"""Event-stream sessionization: split each user's event sequence into
sessions at inactivity gaps, plus per-session rollups.

The canonical gaps-and-islands shape: one shuffle on the user key, a
per-user window sort (users are numerous and sessions short, so
partitions stay balanced — the opposite of a global sort), then
``lag`` marks gap starts and a running ``sum`` numbers the islands.
Everything is built-in window expressions — codegen, no Python.

For skewed users (one user = millions of events) pre-split by
``(user, day)`` first; session boundaries then heal across day edges
with one extra merge pass over first/last sessions per day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_MS = 30 * 60 * 1000


def sessionize(
    events: DataFrame,
    gap_ms: int = DEFAULT_GAP_MS,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    order_col: str = "event_id",
) -> DataFrame:
    """Assign each event a per-user ``session_idx`` (0-based) and a
    corpus-unique ``session_id``. A session breaks when the gap from
    the previous event of the same user exceeds ``gap_ms``. Ordering
    ties on the timestamp break by ``order_col`` so the numbering is
    deterministic.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    prev_ts = F.lag(ts_col).over(w)
    is_new = (
        prev_ts.isNull() | ((F.col(ts_col) - prev_ts) > F.lit(gap_ms))
    ).cast("long")
    run = Window.partitionBy(user_col).orderBy(ts_col, order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = events.withColumn("session_idx", (F.sum(is_new).over(run) - 1))
    # user_id * 2^20 + idx: unique as long as no user has >1M sessions
    # in one run — cheap, join-free, and stable across engines.
    return out.withColumn(
        "session_id",
        (F.col(user_col).cast("long") * F.lit(1 << 20)) + F.col("session_idx"),
    )


def value_quantiles(
    events: DataFrame,
    group_cols=("event_type",),
    value_col: str = "value",
    quantiles=(0.5, 0.9, 0.99),
    method: str = "exact",
    key_col: str | None = None,
    k: int = 256,
) -> DataFrame:
    """Per-group quantiles (linear interpolation over the sorted
    values — SQL-standard continuous quantile), plus count/min/max.

    ``method="exact"`` (default): the exact ``percentile`` aggregate —
    not approx_percentile, whose t-digest sketches are engine-private
    and non-reproducible. The aggregate buffers one group's values in
    one task, so it is for groups that fit an aggregation buffer.

    ``method="sketch"``: the scale path for giant groups — delegates to
    :func:`net_spider_spark.pipeline.sketch.quantile_sketch`, the
    mergeable, deterministic, engine-reproducible bottom-k-by-hash row
    sample (exact below k rows; standard error ~ sqrt(q(1-q)/k) above),
    using the same interpolation formula. Requires ``key_col`` — a
    column uniquely identifying rows (the sampling hash input). Output
    schema matches exact mode; count/min/max stay exact (they are
    map-side-combinable aggregates at any scale).
    """
    group_cols = list(group_cols)
    v = F.col(value_col).cast("double")
    stat_aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(v).alias("value_min"),
        F.max(v).alias("value_max"),
    ]
    if method == "sketch":
        if key_col is None:
            raise ValueError("method='sketch' requires key_col")
        from net_spider_spark.pipeline import sketch as SK

        stats = events.groupBy(*group_cols).agg(*stat_aggs)
        est = SK.quantile_sketch_estimate(
            SK.quantile_sketch(events, group_cols, value_col, key_col, k=k),
            quantiles,
        ).drop("qsk", "n_kept")
        # both sides are post-aggregate (rows = group count); AQE
        # broadcasts the smaller side.
        return stats.join(est, on=group_cols)
    if method != "exact":
        raise ValueError(f"unknown method: {method!r}")
    aggs = stat_aggs + [
        F.expr(f"percentile({value_col}, {q!r})").alias(
            f"p{round(q * 100)}"
        )
        for q in quantiles
    ]
    return events.groupBy(*group_cols).agg(*aggs)


def session_stats(
    sessions: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Per-session rollup over :func:`sessionize` output: bounds, event
    count, duration. One map-side-combinable hash aggregate on the
    session key."""
    return sessions.groupBy("session_id").agg(
        F.first(user_col).alias(user_col),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max(ts_col) - F.min(ts_col)).alias("duration_ms"),
    )


def funnel(
    events: DataFrame,
    stages,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Ordered funnel: how many users complete each stage IN ORDER.

    A user reaches stage i+1 when they have a stage-i+1 event at or
    after their earliest completion of stage i (the classic
    min-timestamp chaining — re-entries later than the first completion
    still count, earlier ones don't). Each level is one aggregate plus
    one join against the previous level's (user, t) set, which shrinks
    monotonically — at corpus scale every join after the first is
    small-side broadcastable.

    Returns (stage_idx, stage, n_users), one row per stage.
    """
    stages = list(stages)
    if not stages:
        raise ValueError("at least one stage required")
    u, ty, ts = F.col(user_col), F.col(type_col), F.col(ts_col)
    reached = (
        events.where(ty == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    levels = []
    for i, stage in enumerate(stages):
        if i > 0:
            prev = reached.select(user_col, F.col("_t").alias("_pt"))
            reached = (
                events.where(ty == stage)
                .join(prev, user_col)
                .where(ts >= F.col("_pt"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        levels.append(
            reached.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.col("n_users"),
            )
        )
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    bucket_ms: int = 86_400_000,
    max_offset: int = 30,
) -> DataFrame:
    """Cohort retention table: users are cohorted by the bucket (day,
    by default) of their FIRST event, and each (cohort, offset) cell
    counts the cohort's users active ``offset`` buckets later, with
    ``retention = n_active / cohort_size``. The product-analytics
    staple (and, for a training-data platform, the shape of
    contributor/source churn analysis).

    Offsets beyond ``max_offset`` are dropped (the table stays
    calendar-sized); offset 0 is every cohort's full size by
    construction, so ``retention`` is 1.0 there and the division is
    one IEEE op on exact integers — engine-reproducible with no
    rounding step.

    Scale shape: distinct (user, bucket) activity → min-bucket per
    user (both map-side-combinable hash aggregates on the user key) →
    equi-join → count per (cohort, offset). No window functions, no
    sort; the widest shuffle is the distinct-activity aggregate, rows
    bounded by users x active-buckets.
    """
    bucket = (
        (F.col(ts_col).cast("long") / F.lit(int(bucket_ms))).cast("long")
        * F.lit(int(bucket_ms))
    )
    activity = events.select(
        F.col(user_col).alias("_u"), bucket.alias("_b")
    ).distinct()
    first_seen = activity.groupBy("_u").agg(F.min("_b").alias("_cohort"))
    cells = (
        activity.join(first_seen, "_u")
        .withColumn(
            "day_offset",
            ((F.col("_b") - F.col("_cohort")) / F.lit(int(bucket_ms))).cast(
                "long"
            ),
        )
        .where(F.col("day_offset") <= max_offset)
        .groupBy(F.col("_cohort").alias("cohort_start"), "day_offset")
        .agg(F.count_distinct(F.col("_u")).alias("n_active"))
    )
    sizes = first_seen.groupBy(F.col("_cohort").alias("cohort_start")).agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        cells.join(sizes, "cohort_start")
        .select(
            "cohort_start",
            "day_offset",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )
