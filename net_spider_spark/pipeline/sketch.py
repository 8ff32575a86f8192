"""Mergeable cardinality sketches: K-Minimum-Values (KMV) and
HyperLogLog distinct counting, both engine-portable.

Why not ``approx_count_distinct``: Spark's built-in HLL is fast but
its binary sketch is engine-private — results can't be reproduced by
another system, merged across engines, or checked by an external
oracle. KMV keeps the k smallest *portable* hash values (md5-derived,
same bytes in any engine), so

* the sketch is a plain ``array<long>`` column any reader understands,
* two sketches merge by "union, keep k smallest" (associative and
  commutative — safe as a distributed partial aggregate), and
* the estimate is a deterministic closed form both Spark and DuckDB
  compute bit-identically: ``(k-1) * 2^60 / h_k`` where ``h_k`` is the
  k-th smallest 60-bit hash (Bar-Yossef et al. 2002's KMV estimator).

Standard error is ~1/sqrt(k-2); k=256 gives ~6%.

Scale: the hash + per-group dedup is one map-side-combinable
aggregate, and the bottom-k selection never sorts a whole group in one
task: rows are bucketed by the first hex chars of their digest, a tiny
per-(group, bucket) count table yields each bucket's cumulative offset
(window over <= 4096 rows per group), buckets wholly past k are
dropped BEFORE the shuffle, and the exact rank runs only inside the
surviving ~1/4096-of-a-group buckets (same membership as the naive
``row_number() OVER (PARTITION BY group ORDER BY hash)`` — hash ties
share a bucket by construction, so tie-breaks never cross buckets).
This is the distributed-rank shape that fixed ``curate.mixture_sample``,
with the histogram kept fully distributed instead of driver-collected.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "md5_sql",
    "hex15_to_long_sql",
    "hash60_sql",
    "kmv_sketch",
    "kmv_estimate",
    "kmv_merge",
    "kmv_distinct",
    "kmv_set_estimates",
    "hll_sketch",
    "hll_register_table",
    "hll_from_registers",
    "hll_merge_arrays",
    "hll_estimate",
    "hll_distinct",
    "hll_sketch_sparse",
    "hll_merge_sparse",
    "hll_densify",
    "hll_estimate_sparse",
    "quantile_sketch",
    "quantile_sketch_merge",
    "quantile_sketch_estimate",
    "cms_build",
    "cms_estimate",
    "cms_merge",
    "bloom_build",
    "bloom_contains",
    "bloom_merge",
]

_HEX = "0123456789abcdef"

#: 2^60 as a double — the hash-space size for the estimator.
HASH_SPACE = float(1 << 60)


def md5_sql(value_expr: str, seed: str = "s42") -> str:
    """SQL for the seeded md5 hex digest of ``value_expr`` — identical
    text in Spark SQL and DuckDB."""
    return f"md5(concat('{seed}', ':', cast(({value_expr}) as string)))"


def hex15_to_long_sql(hex_expr: str) -> str:
    """SQL expression (valid in BOTH Spark SQL and DuckDB) turning the
    first 15 hex chars of ``hex_expr`` into a uniform 60-bit integer:
    positional arithmetic, engine-portable on purpose — no
    conv()/from_hex/xxhash, which differ or are missing across
    engines. Evaluate ``hex_expr`` into its own column first so the
    digest isn't recomputed per character."""
    terms = [
        f"(position(substring({hex_expr}, {i + 1}, 1) IN '{_HEX}') - 1)"
        f" * cast({1 << (4 * (14 - i))} as bigint)"
        for i in range(15)
    ]
    return "(" + " + ".join(terms) + ")"


def hash60_sql(value_expr: str, seed: str = "s42") -> str:
    """One-shot 60-bit hash SQL (digest inlined 15x — prefer the
    md5_sql + hex15_to_long_sql split on hot paths)."""
    return hex15_to_long_sql(md5_sql(value_expr, seed))


#: Hex chars of digest prefix used as the rank-distribution bucket —
#: 3 -> 4096 buckets, so a surviving window partition holds ~1/4096 of
#: one group.
_BKT_HEX = 3


def _bottom_k_rows(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Rows of ``df`` whose per-group rank by ``(_h60, *order_extra)``
    is <= k, without sorting any whole group in one task. ``df`` must
    carry ``_md5`` (the hex digest) and ``_h60`` (its 60-bit value).

    Membership is bit-identical to
    ``row_number() OVER (PARTITION BY group ORDER BY _h60, ...) <= k``:
    the bucket is a prefix of the hash, so equal hashes — the only rows
    the extra tie-break columns order — always share a bucket.
    """
    d = df.withColumn("_bkt", F.substring("_md5", 1, _BKT_HEX))
    counts = d.groupBy(*group_cols, "_bkt").agg(
        F.count(F.lit(1)).alias("_bc")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        counts.withColumn(
            "_off", F.coalesce(F.sum("_bc").over(w_off), F.lit(0))
        )
        # a bucket whose offset already reaches k cannot contribute:
        # dropping it here prunes the data-sized side map-side (AQE
        # broadcasts this post-aggregate table when it is small).
        .where(F.col("_off") < k)
        .select(*group_cols, "_bkt", "_off")
    )
    w_rank = Window.partitionBy(*group_cols, "_bkt").orderBy(
        "_h60", *order_extra
    )
    return (
        d.join(offs, group_cols + ["_bkt"])
        .withColumn("_rn", F.col("_off") + F.row_number().over(w_rank))
        .where(F.col("_rn") <= k)
        .drop("_bkt", "_off", "_rn")
    )


def kmv_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 256,
    seed: str = "s42",
) -> DataFrame:
    """Per-group KMV sketch: ``kmv`` = sorted array of the k smallest
    distinct 60-bit hashes of ``value_col``. One dedup aggregate, then
    a bucket-distributed rank over distinct hashes only (no whole-group
    sort — see :func:`_bottom_k_rows`)."""
    group_cols = list(group_cols)
    hashed = (
        df.select(
            *group_cols,
            F.expr(md5_sql(value_col, seed)).alias("_md5"),
        )
        .select(
            *group_cols, "_md5",
            F.expr(hex15_to_long_sql("_md5")).alias("_h60"),
        )
        .dropDuplicates(group_cols + ["_h60"])
    )
    return (
        _bottom_k_rows(hashed, group_cols, k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("_h60")).alias("kmv"))
    )


def kmv_estimate(sketch: DataFrame, k: int = 256) -> DataFrame:
    """Distinct-count estimate from a sketch: exact when fewer than k
    hashes were seen (the sketch IS the distinct set), else the KMV
    estimator off the k-th minimum. Adds ``n_kept`` and
    ``est_distinct``; arithmetic is plain double ops any engine
    reproduces bit-identically."""
    n = F.size("kmv")
    hk = F.element_at("kmv", -1).cast("double")
    est = F.when(n < k, n.cast("long")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(HASH_SPACE) / hk).cast("long")
    )
    return sketch.withColumn("n_kept", n.cast("long")).withColumn(
        "est_distinct", est
    )


def hll_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 10,
    seed: str = "s42",
) -> DataFrame:
    """Per-group HyperLogLog sketch (Flajolet et al. 2007), built
    ENTIRELY from engine-portable primitives so the DuckDB oracle
    reproduces it bit-for-bit — unlike ``approx_count_distinct``,
    whose binary sketch is Spark-private.

    The 60-bit md5-derived hash splits into a bucket (top ``p`` bits)
    and a suffix w; the register is rho = leading-zeros(w) + 1,
    computed WITHOUT libm as ``(60 - p) - length(bin(w)) + 1``
    (``bin`` — the binary-digits string — exists with identical
    semantics in Spark and DuckDB). ``hll`` is the dense register
    array (length 2^p, missing buckets 0), so two sketches merge by
    element-wise max (:func:`hll_merge`) — associative, commutative,
    and O(2^p) state per group at ANY input size.

    Shape: ONE grouped max aggregate over (group, bucket) — no dedup
    pass needed (duplicates cannot raise a max), map-side combinable —
    then a dense-array assembly off a (group, map) row. Standard error
    ~1.04/sqrt(2^p): p=10 -> ~3.3%.
    """
    group_cols = list(group_cols)
    return hll_from_registers(
        hll_register_table(df, group_cols, value_col, p=p, seed=seed),
        group_cols,
        p=p,
    )


def hll_register_table(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 10,
    seed: str = "s42",
) -> DataFrame:
    """The HLL register rows (group..., _bkt, _m) — max rho per
    (group, bucket). This is the whole sketch as ONE grouped max
    aggregate, which makes it legal as a STREAMING aggregation too
    (complete/update mode): Structured Streaming maintains the max
    incrementally with state bounded by groups x 2^p rows forever,
    the same mergeable-sketch state bound the CMS cells table uses.
    Batch callers assemble a sketch with :func:`hll_from_registers`;
    duplicates and replays cannot move a max, so an availableNow
    replay equals the batch registers bit-for-bit."""
    group_cols = list(group_cols)
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    w_bits = 60 - p
    hashed = df.select(
        *group_cols,
        # two-step digest (md5 once, THEN the 15-char positional
        # conversion) — hash60_sql would inline the md5 15x per row,
        # measured 5x slower on the 6.4M-row scale bench
        F.expr(md5_sql(value_col, seed)).alias("_md5"),
    ).select(
        *group_cols,
        F.expr(hex15_to_long_sql("_md5")).alias("_h60"),
    ).select(
        *group_cols,
        F.shiftrightunsigned(F.col("_h60"), w_bits).alias("_bkt"),
        (
            F.col("_h60")
            .bitwiseAND(F.lit((1 << w_bits) - 1))
        ).alias("_w"),
    )
    rho = F.when(F.col("_w") == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) - F.length(F.bin(F.col("_w"))) + F.lit(1)
    )
    return (
        hashed.select(*group_cols, "_bkt", rho.alias("_rho"))
        .groupBy(*group_cols, "_bkt")
        .agg(F.max("_rho").alias("_m"))
    )


def hll_from_registers(
    regs: DataFrame, group_cols: Sequence[str], p: int = 10
) -> DataFrame:
    """Assemble the dense per-group sketch array from a register table
    (the batch tail of :func:`hll_register_table`; also the reduction
    for a streamed register sink)."""
    group_cols = list(group_cols)
    grouped = regs.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.collect_list(F.struct("_bkt", "_m"))
        ).alias("_regmap")
    )
    m = 1 << p
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.coalesce(
            F.element_at("_regmap", j.cast("long")), F.lit(0)
        ).cast("int"),
    )
    return grouped.select(*group_cols, dense.alias("hll"))


def hll_merge_arrays(a: "F.Column", b: "F.Column") -> "F.Column":
    """Element-wise max of two dense register arrays — the HLL merge."""
    return F.zip_with(a, b, lambda x, y: F.greatest(x, y))


def hll_estimate(sketch: DataFrame, p: int = 10, hll_col: str = "hll") -> DataFrame:
    """Cardinality estimate from a dense register array. The raw
    estimator's indicator sum Σ 2^-M_j is computed as
    ``1.0 / (1 << M_j)`` — every term a dyadic rational, so the sum is
    EXACT in double arithmetic and order-independent (the property
    that makes the estimate reproducible across engines and
    partitionings; no libm pow). The small-range branch is classic
    linear counting (the one ln() in the operator; estimates are
    rounded to 4 dp, far above any last-ulp libm divergence). Adds
    ``est_distinct`` (double, 4 dp) and ``n_zero_regs``."""
    m = 1 << p
    w_bits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # 2^-r by lookup: every entry an exact dyadic double, so the
    # indicator sum is exact and order-independent (no libm pow).
    inv_pow2 = F.array(
        *[F.lit(1.0 / (1 << i)) for i in range(w_bits + 2)]
    )
    inv_sum = F.aggregate(
        hll_col,
        F.lit(0.0),
        lambda acc, r: acc + F.get(inv_pow2, r),
    )
    zeros = F.size(F.filter(hll_col, lambda r: r == F.lit(0)))
    raw = F.lit(alpha * m * m) / inv_sum
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), lc).otherwise(raw)
    return sketch.withColumn(
        "n_zero_regs", zeros.cast("long")
    ).withColumn("est_distinct", F.round(est, 4))


def hll_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 10,
    seed: str = "s42",
) -> DataFrame:
    """Sketch + estimate in one call: (group_cols..., n_zero_regs,
    est_distinct)."""
    return hll_estimate(
        hll_sketch(df, group_cols, value_col, p=p, seed=seed), p=p
    ).drop("hll")


def hll_sketch_sparse(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 10,
    seed: str = "s42",
) -> DataFrame:
    """Per-group HLL sketch in SPARSE form: ``hll_sparse`` is a
    ``map<int,int>`` of only the NON-ZERO registers (bucket -> rho).

    Why: the dense representation is 2^p ints per group regardless of
    group size — fine for a handful of groups at p=10, wasteful for
    MANY SMALL groups at p>=14 (a 16k-int array per group whose
    distinct count is 50). Sparse state is O(min(distinct, 2^p)) per
    group, which is what a 100 TB run with a high-cardinality group
    key actually wants. Same hash, same registers, same estimate —
    :func:`hll_densify` converts exactly, and the sparse estimator
    sums the same dyadic terms, so estimates agree with the dense
    path at the 4-dp rounding (pinned by tests/test_sketch.py parity
    tests).

    Plan shape is identical to :func:`hll_sketch` minus the dense
    assembly: one (group, bucket) max aggregate, one map assembly.
    """
    group_cols = list(group_cols)
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    w_bits = 60 - p
    hashed = df.select(
        *group_cols,
        # two-step digest (md5 once, THEN the 15-char positional
        # conversion) — hash60_sql would inline the md5 15x per row,
        # measured 8x slower on the 6.4M-row scale bench
        F.expr(md5_sql(value_col, seed)).alias("_md5"),
    ).select(
        *group_cols,
        F.expr(hex15_to_long_sql("_md5")).alias("_h60"),
    ).select(
        *group_cols,
        F.shiftrightunsigned(F.col("_h60"), w_bits).alias("_bkt"),
        (
            F.col("_h60").bitwiseAND(F.lit((1 << w_bits) - 1))
        ).alias("_w"),
    )
    rho = F.when(F.col("_w") == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) - F.length(F.bin(F.col("_w"))) + F.lit(1)
    )
    return (
        hashed.select(*group_cols, "_bkt", rho.alias("_rho"))
        .groupBy(*group_cols, "_bkt")
        .agg(F.max("_rho").alias("_m"))
        .groupBy(*group_cols)
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("_bkt").cast("int").alias("bkt"),
                        F.col("_m").cast("int").alias("rho"),
                    )
                )
            ).alias("hll_sparse")
        )
    )


def hll_merge_sparse(a: "F.Column", b: "F.Column") -> "F.Column":
    """Merge two sparse sketches: per-bucket max over the key union —
    ``map_zip_with`` keeps the result sparse (absent = 0, and
    max(x, 0) = x for rho >= 1, so no zero entries appear)."""
    return F.map_zip_with(
        a,
        b,
        lambda _k, v1, v2: F.greatest(
            F.coalesce(v1, F.lit(0)), F.coalesce(v2, F.lit(0))
        ),
    )


def hll_densify(sparse: "F.Column", p: int) -> "F.Column":
    """Sparse map -> the dense register array :func:`hll_estimate`
    and :func:`hll_merge_arrays` consume (missing buckets 0)."""
    m = 1 << p
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.coalesce(
            F.element_at(sparse, j.cast("int")), F.lit(0)
        ).cast("int"),
    )


def hll_estimate_sparse(
    sketch: DataFrame, p: int = 10, hll_col: str = "hll_sparse"
) -> DataFrame:
    """Cardinality estimate straight off the sparse map — never
    materializes the dense array. Each ABSENT bucket contributes
    exactly 2^-0 = 1.0 to the indicator sum, so
    ``inv_sum = (m - size) * 1.0 + Σ 2^-rho`` over the map values;
    every term is the same dyadic rational the dense estimator sums,
    just in a different order, and the 4-dp rounding absorbs any
    last-ulp summation-order difference — the parity tests assert
    EQUALITY with :func:`hll_estimate` on the densified sketch.
    Adds ``est_distinct`` (4 dp) and ``n_zero_regs``."""
    m = 1 << p
    w_bits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    inv_pow2 = F.array(
        *[F.lit(1.0 / (1 << i)) for i in range(w_bits + 2)]
    )
    zeros = (F.lit(m) - F.size(hll_col)).cast("long")
    inv_sum = F.aggregate(
        F.map_values(hll_col),
        zeros.cast("double"),
        lambda acc, r: acc + F.get(inv_pow2, r),
    )
    raw = F.lit(alpha * m * m) / inv_sum
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), lc).otherwise(raw)
    return sketch.withColumn("n_zero_regs", zeros).withColumn(
        "est_distinct", F.round(est, 4)
    )


def kmv_merge(
    a: DataFrame,
    b: DataFrame,
    group_cols: Sequence[str],
    k: int = 256,
) -> DataFrame:
    """Merge two sketch tables (full outer on the group key): union the
    hash sets, keep the k smallest. Exactly the sketch the combined
    input would have produced — the property that makes KMV a safe
    distributed partial aggregate."""
    group_cols = list(group_cols)
    empty = F.array().cast("array<bigint>")
    merged = (
        a.withColumnRenamed("kmv", "_ka")
        .join(b.withColumnRenamed("kmv", "_kb"), on=group_cols, how="full")
        .select(
            *group_cols,
            F.slice(
                F.array_sort(
                    F.array_union(
                        F.coalesce("_ka", empty), F.coalesce("_kb", empty)
                    )
                ),
                1,
                k,
            ).alias("kmv"),
        )
    )
    return merged


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 256,
    seed: str = "s42",
) -> DataFrame:
    """Per-group approximate distinct count of ``value_col``:
    ``group_cols + [n_kept, est_distinct]``."""
    return kmv_estimate(
        kmv_sketch(df, group_cols, value_col, k=k, seed=seed), k=k
    ).drop("kmv")


def kmv_merge_all(sketches: DataFrame, k: int = 256) -> DataFrame:
    """N-way merge of every group's sketch into ONE global sketch: the
    k smallest distinct hashes across all groups. Any hash among the
    global k smallest is necessarily among its own group's k smallest,
    so merge-then-truncate equals the sketch built directly on the full
    input — the partial-aggregate property that lets 1000 executors
    sketch shards independently and combine. Input is tiny (groups x k
    rows), so the single global window is free."""
    exploded = sketches.select(F.explode("kmv").alias("_h60")).dropDuplicates(
        ["_h60"]
    )
    w = Window.orderBy("_h60")
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .agg(F.sort_array(F.collect_list("_h60")).alias("kmv"))
    )


def kmv_set_estimates(
    df: DataFrame,
    a_col: str = "kmv_a",
    b_col: str = "kmv_b",
    k: int = 256,
) -> DataFrame:
    """Set-operation estimates from two KMV sketch columns (Beyer et
    al. 2007's multiset-operation synopses): given per-row arrays
    ``a_col`` / ``b_col`` (each a KMV sketch of some corpus), add

    * ``n_merged``   — size of the merged bottom-k sketch K,
    * ``est_union``  — distinct count of A ∪ B (KMV estimator off K),
    * ``est_intersection`` / ``est_only_a`` / ``est_only_b`` — the
      fraction of K's hashes seen in both/only-one sketch, scaled by
      the union estimate, and
    * ``jaccard_est`` — |K ∩ A ∩ B| / |K| (rounded to 6 dp).

    Why this shape: the merged sketch K is a uniform sample of the
    union's distinct values, so the share of K that lies in both input
    sketches is an unbiased estimate of |A ∩ B| / |A ∪ B| — an
    intersection estimate WITHOUT ever joining the raw corpora. When
    ``n_merged < k`` both inputs were exact distinct sets and every
    output is exact. All arithmetic is plain double ops + array
    intersections both Spark and DuckDB reproduce bit-identically.

    Scale: pure per-row array math over sketch rows (groups x k longs)
    — no shuffle, no join; the expensive part already happened in the
    map-side-combinable :func:`kmv_sketch` aggregates."""
    a, b = F.col(a_col), F.col(b_col)
    merged = F.slice(F.array_sort(F.array_union(a, b)), 1, k)
    d = df.withColumn("_K", merged)
    n = F.size("_K")
    hk = F.element_at("_K", -1).cast("double")
    est_union = F.when(n < k, n.cast("long")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(HASH_SPACE) / hk).cast("long")
    )
    d = d.withColumn("n_merged", n.cast("long")).withColumn(
        "est_union", est_union
    )
    in_both = F.size(F.array_intersect(F.array_intersect("_K", a_col), b_col))
    only_a = F.size(F.array_except(F.array_intersect("_K", a_col), b_col))
    only_b = F.size(F.array_except(F.array_intersect("_K", b_col), a_col))
    kd = F.col("n_merged").cast("double")
    ud = F.col("est_union").cast("double")

    def scaled(cnt):
        # Guard n_merged == 0 (both sketches empty): every estimate is
        # exactly 0, and the unguarded division would emit NaN.
        return F.when(kd == 0, F.lit(0).cast("long")).otherwise(
            F.round(cnt.cast("double") / kd * ud).cast("long")
        )

    return (
        d.withColumn("est_intersection", scaled(in_both))
        .withColumn("est_only_a", scaled(only_a))
        .withColumn("est_only_b", scaled(only_b))
        .withColumn(
            "jaccard_est",
            F.when(kd == 0, F.lit(0.0)).otherwise(
                F.round(in_both.cast("double") / kd, 6)
            ),
        )
        .drop("_K")
    )


# ---------------------------------------------------------------------------
# Mergeable deterministic quantile sketch: bottom-k row sample by a
# portable md5-derived hash of the row KEY (not the value — values
# repeat, and deduping them would bias the distribution). The k rows
# with the smallest hashes are a uniform random-but-deterministic
# sample, so the empirical quantile over the sample estimates the true
# quantile with standard error ~ sqrt(q(1-q)/k); sketches over
# DISJOINT shards merge by "concatenate, keep k smallest by hash" —
# associative and commutative, i.e. a safe distributed partial
# aggregate — and the whole construction is reproducible bit-for-bit
# by any engine.
# ---------------------------------------------------------------------------


def quantile_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    key_col: str,
    k: int = 256,
    seed: str = "s42",
) -> DataFrame:
    """Per-group quantile sketch: ``qsk`` = array of (h, v) structs for
    the k rows with the smallest 60-bit hashes of ``key_col``, sorted
    by (h, v). ``key_col`` must identify rows uniquely (hash ties at
    the keep-boundary break by value, so the kept set is deterministic
    regardless). Groups smaller than k keep every row — estimates are
    then exact."""
    group_cols = list(group_cols)
    hashed = (
        df.select(
            *group_cols,
            F.col(value_col).cast("double").alias("_v"),
            F.expr(md5_sql(key_col, seed)).alias("_md5"),
        )
        .select(
            *group_cols, "_v", "_md5",
            F.expr(hex15_to_long_sql("_md5")).alias("_h60"),
        )
    )
    return (
        _bottom_k_rows(hashed, group_cols, k, order_extra=("_v",))
        .groupBy(*group_cols)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_h60").alias("h"), F.col("_v").alias("v"))
                )
            ).alias("qsk")
        )
    )


def quantile_sketch_merge(
    a: DataFrame,
    b: DataFrame,
    group_cols: Sequence[str],
    k: int = 256,
) -> DataFrame:
    """Merge sketch tables built over DISJOINT row shards (the
    partial-aggregate contract): concatenate the samples, keep the k
    smallest by (h, v). Equals the sketch built directly on the union
    of the shards."""
    group_cols = list(group_cols)
    empty = F.array().cast("array<struct<h:bigint,v:double>>")
    return (
        a.withColumnRenamed("qsk", "_qa")
        .join(b.withColumnRenamed("qsk", "_qb"), on=group_cols, how="full")
        .select(
            *group_cols,
            F.slice(
                F.array_sort(
                    F.concat(
                        F.coalesce("_qa", empty), F.coalesce("_qb", empty)
                    )
                ),
                1,
                k,
            ).alias("qsk"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch: frequency estimation in fixed space. The sketch is
# a cells table (group_cols..., r, c, cnt) — depth rows x width columns
# of counters, each input value incrementing one cell per row (column =
# seeded 60-bit hash mod width). Post-combine state is <= depth*width
# per group REGARDLESS of input size, the shuffle is one map-side-
# combinable count aggregate, and two sketches over disjoint shards
# merge by cell-wise sum (associative + commutative). Estimates are the
# classic Cormode-Muthukrishnan min-over-rows: always >= the true
# count, over by <= 2N/width with probability 1 - 2^-depth. Unlike an
# engine-private binary sketch, the cells table is plain rows any
# engine (the DuckDB oracle included) rebuilds bit-identically from the
# same input.
# ---------------------------------------------------------------------------


def _cms_cell_col(value_expr: str, width: int, seed: str):
    """(r, c) hash: column index for CMS row ``r`` (an existing int
    column) — 60-bit seeded hash of the value, mod width. The seed
    string embeds r, so rows are independent hash functions. The hash
    is non-negative, so ``%`` agrees across engines."""
    digest = (
        f"md5(concat('{seed}', ':r', cast(r as string), ':',"
        f" cast(({value_expr}) as string)))"
    )
    return F.expr(f"{hex15_to_long_sql(digest)} % {width}")


def cms_build(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    width: int = 1024,
    seed: str = "s42",
) -> DataFrame:
    """Per-group count-min sketch over ``value_col`` occurrences:
    returns cells ``group_cols + [r, c, cnt]`` (absent cells are zero).
    One explode (x depth) + one count aggregate."""
    group_cols = list(group_cols)
    rows = df.select(
        *group_cols,
        F.col(value_col).cast("string").alias("_val"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
    )
    return (
        rows.withColumn("c", _cms_cell_col("_val", width, seed))
        .groupBy(*group_cols, "r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cells: DataFrame,
    probes: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    width: int = 1024,
    seed: str = "s42",
) -> DataFrame:
    """Estimated occurrence count for each probe value: min over the
    sketch's depth rows of the addressed cell (missing cell = 0).
    Probe sets are small by nature; the d-cell lookup join broadcasts
    them, so the sketch never moves."""
    group_cols = list(group_cols)
    p = probes.select(
        *group_cols,
        F.col(value_col).cast("string").alias("_val"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
    ).withColumn("c", _cms_cell_col("_val", width, seed))
    joined = p.join(cells, group_cols + ["r", "c"], "left")
    return (
        joined.groupBy(*group_cols, "_val")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
        .withColumnRenamed("_val", value_col)
    )


def cms_merge(a: DataFrame, b: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Cell-wise sum of two sketches built with identical (depth,
    width, seed) over DISJOINT row shards — equals the sketch built on
    the union (the distributed-partial-aggregate property)."""
    group_cols = list(group_cols)
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Bloom filter: set membership in fixed space, no false negatives. The
# filter is the distinct set of SET BIT positions (group_cols..., pos)
# — bounded by m_bits rows however large the input — built by one
# explode (x n_hashes) + dropDuplicates. Membership: a probe is "maybe
# present" iff ALL of its n_hashes positions are set; false-positive
# rate ~ (1 - e^(-kn/m))^k. Filters merge by position-set union. The
# scale use is membership pre-screening (e.g. decontamination or
# incremental dedup against a huge historical digest set) where the
# full semi-join would shuffle the corpus: the positions table
# broadcasts at m_bits <= a few hundred M, so the probe side never
# shuffles at all.
# ---------------------------------------------------------------------------


def _bloom_pos_col(value_expr: str, m_bits: int, seed: str):
    """Bit position for hash index ``i`` (an existing int column)."""
    digest = (
        f"md5(concat('{seed}', ':b', cast(i as string), ':',"
        f" cast(({value_expr}) as string)))"
    )
    return F.expr(f"{hex15_to_long_sql(digest)} % {m_bits}")


def bloom_build(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    n_hashes: int = 7,
    m_bits: int = 1 << 20,
    seed: str = "s42",
) -> DataFrame:
    """Per-group Bloom filter over ``value_col``: the distinct set-bit
    positions ``group_cols + [pos]``."""
    group_cols = list(group_cols)
    return (
        df.select(
            *group_cols,
            F.col(value_col).cast("string").alias("_val"),
            F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("i"),
        )
        .select(*group_cols, _bloom_pos_col("_val", m_bits, seed).alias("pos"))
        .dropDuplicates(group_cols + ["pos"])
    )


def bloom_contains(
    bits: DataFrame,
    probes: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    n_hashes: int = 7,
    m_bits: int = 1 << 20,
    seed: str = "s42",
) -> DataFrame:
    """``maybe_present`` per DISTINCT probe value: true iff every one
    of its n_hashes positions is set. Never false for a true member; false
    positives at the designed rate. The join is probe-positions
    left-semi bits on (group, pos) — with the bits side broadcast
    (its size is capped by m_bits), the probe corpus streams through
    map-side with NO shuffle of the data-sized side."""
    group_cols = list(group_cols)
    # Dedupe BEFORE exploding: a value probed twice would otherwise
    # contribute 2*n_hashes position rows and the all-positions-set
    # count test (== n_hashes) could never pass for it.
    base = probes.select(
        *group_cols, F.col(value_col).cast("string").alias("_val")
    ).dropDuplicates(group_cols + ["_val"])
    p = base.select(
        *group_cols,
        "_val",
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("i"),
    ).select(
        *group_cols, "_val", _bloom_pos_col("_val", m_bits, seed).alias("pos")
    )
    hits = p.join(bits, group_cols + ["pos"], "left_semi")
    hit_counts = hits.groupBy(*group_cols, "_val").agg(
        F.count(F.lit(1)).alias("_n_set")
    )
    return (
        base.join(hit_counts, group_cols + ["_val"], "left")
        .select(
            *group_cols,
            F.col("_val").alias(value_col),
            (F.coalesce(F.col("_n_set"), F.lit(0)) == n_hashes).alias(
                "maybe_present"
            ),
        )
    )


def bloom_merge(
    a: DataFrame, b: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Union of set positions — equals the filter built on the
    concatenated inputs (same (n_hashes, m_bits, seed))."""
    group_cols = list(group_cols)
    return a.unionByName(b).dropDuplicates(group_cols + ["pos"])


def quantile_sketch_estimate(
    sketch: DataFrame, quantiles: Sequence[float] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Quantile estimates off a sketch: SQL-standard continuous
    (linear-interpolation) empirical quantiles over the sampled
    values — the same formula ``percentile`` uses, so a group smaller
    than k reproduces the exact aggregate. Plain double arithmetic,
    engine-reproducible. Adds ``n_kept`` and one ``p<q>`` column per
    requested quantile."""
    vals = F.array_sort(F.transform("qsk", lambda s: s["v"]))
    n = F.size("qsk")
    out = sketch.withColumn("_vals", vals).withColumn(
        "n_kept", n.cast("long")
    )
    for q in quantiles:
        pos = (n - 1).cast("double") * F.lit(float(q))
        lo = F.floor(pos).cast("int")
        frac = pos - lo.cast("double")
        vlo = F.element_at("_vals", lo + 1)
        vhi = F.element_at("_vals", F.least(lo + F.lit(2), n))
        out = out.withColumn(
            f"p{round(q * 100)}", vlo + frac * (vhi - vlo)
        )
    return out.drop("_vals")
