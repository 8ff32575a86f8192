"""Driver-local fast-path sizing guard.

The iterative graph operators (traverse/components/pagerank/kcore/sssp)
take a driver-local fast path when the deduplicated edge projection is
small: one collect, zero iterative jobs; the GraphML and pangraph
exports likewise collect each side once when the snapshot is small. A
row-count threshold alone mis-sizes wide rows — 2M edges of 16-byte
node IDs is ~100 MB, but 2M edges of kilobyte URLs is gigabytes. The
guard therefore ALSO estimates bytes from actual row widths and refuses
the local path when the estimate exceeds a driver budget, regardless
of row count.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Collecting more than this many estimated bytes to the driver is
# refused even when the row count passes the operator's threshold.
DRIVER_LOCAL_MAX_BYTES = 256 * 1024 * 1024

_SAMPLE_ROWS = 4096

# Ring buffer of recent guard decisions, appended by every guard below.
# A silent local<->distributed path flip between rounds makes bench
# numbers incomparable (round-9 lesson: j5_reachability fell off the
# fast path when the byte estimate was reworked, +41% wall with no
# code change to the operator). Recording every decision lets bench.py
# commit which path each query took and lets tests PIN the expected
# path at the bench scale factor, so a flip fails CI instead of
# surfacing as an unexplained wall delta.
DECISION_LOG: list[dict] = []
_DECISION_LOG_MAX = 256


# Target rows per task for an explicit compute-spread exchange (a
# round-robin/hash repartition inserted purely so a heavy per-row
# Python stage runs data-parallel). Spreading a few hundred rows over
# defaultParallelism tasks is pure scheduling + Python-worker spin-up:
# several spread queries measured FASTER at 8 cores than 32 at bench
# scale (round-11 verdict item 3). 512 rows/task reproduces the 8-core
# width on the sf0.1 media spreads; at corpus scale n_rows/512 far
# exceeds any core count, so the cap never binds and the width stays
# the session's parallelism.
SPREAD_ROWS_PER_TASK = int(
    os.environ.get("NET_SPIDER_SPREAD_ROWS_PER_TASK", "512")
)


def spread_width(spark, n_rows: int | None = None) -> int:
    """Task width for an explicit compute-spread exchange: the
    session's default parallelism, capped at
    ``ceil(n_rows / SPREAD_ROWS_PER_TASK)`` when the caller knows (or
    can bound) the row count. ``n_rows`` is a width HINT — it affects
    scheduling only, never results."""
    par = spark.sparkContext.defaultParallelism
    if n_rows is not None and n_rows >= 0:
        par = max(1, min(par, -(-n_rows // SPREAD_ROWS_PER_TASK)))
    return par


def _log_decision(tag: str | None, n_rows: int, est: int, local: bool) -> None:
    DECISION_LOG.append(
        {"tag": tag, "n_rows": n_rows, "est_bytes": est, "local": local}
    )
    if len(DECISION_LOG) > _DECISION_LOG_MAX:
        del DECISION_LOG[: -_DECISION_LOG_MAX]


def _row_width_expr(df: DataFrame):
    """Column summing an approximate serialized width per row: actual
    octet length for strings/binary, the JSON length for maps, arrays
    and structs (an attribute map can dwarf the rest of its row), fixed
    widths for scalars."""
    width = F.lit(16)  # per-row object overhead
    for field in df.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, (T.StringType, T.BinaryType)):
            width = width + F.coalesce(F.octet_length(c), F.lit(0)) + F.lit(8)
        elif isinstance(field.dataType, (T.MapType, T.ArrayType, T.StructType)):
            width = (
                width + F.coalesce(F.octet_length(F.to_json(c)), F.lit(0)) + F.lit(8)
            )
        else:
            width = width + F.lit(8)
    return width


# Collected rows materialize as Python Row objects + str fields, which
# cost a multiple of their serialized octet length on the driver heap.
_PY_OVERHEAD = 3


def estimated_bytes(df: DataFrame, n_rows: int) -> int:
    """Estimate the DRIVER-HEAP size of collecting ``df`` (which has
    ``n_rows`` rows): mean serialized row width from a sample, times
    rows, times a Python-object overhead factor. Small frames average
    every row; larger ones use ``sample()`` so the estimate draws from
    all partitions instead of whichever partition ``limit`` happens to
    satisfy itself from (row width can correlate with partition
    contents). Callers persist the frame first, so the extra narrow
    scan is cheap."""
    if n_rows <= 0:
        return 0
    probe = (
        df
        if n_rows <= _SAMPLE_ROWS
        else df.sample(False, min(1.0, (4 * _SAMPLE_ROWS) / n_rows), seed=7)
    )
    row = probe.select(F.avg(_row_width_expr(df)).alias("avg_w")).collect()[0]
    avg_w = row["avg_w"]
    if avg_w is None:
        # the sample happened to select zero rows — never let the
        # estimate collapse to 0 and wave an oversized collect through
        row = (
            df.limit(_SAMPLE_ROWS)
            .select(F.avg(_row_width_expr(df)).alias("avg_w"))
            .collect()[0]
        )
        avg_w = row["avg_w"] or 0.0
    return int(avg_w * n_rows * _PY_OVERHEAD)


def count_and_fits(
    df: DataFrame,
    row_threshold: int,
    max_bytes: int = DRIVER_LOCAL_MAX_BYTES,
    tag: str | None = None,
) -> tuple[int, bool]:
    """Row count + driver-budget check as ONE aggregate job.

    The guarded operators (components/pagerank/kcore/sssp/BFS) all ran
    ``count()`` then :func:`fits_in_driver`'s width probe — two full
    jobs over the (persisted) edge projection before any work starts,
    each a stage of pure scheduling at bench scale. One
    ``agg(count, avg(width))`` pass computes both. The width estimate
    averages EVERY row instead of the sampled probe — a strictly
    better estimate for one extra cheap expression during a pass the
    count already paid for. Returns ``(n_rows, local)`` where local
    requires BOTH ``n_rows <= row_threshold`` and the byte budget, and
    logs the combined decision (so a row-threshold refusal is visible
    in the decision log too, which the two-step form never recorded)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(_row_width_expr(df)).alias("avg_w"),
    ).collect()[0]
    n = int(row["n"])
    est = int((row["avg_w"] or 0.0) * n * _PY_OVERHEAD)
    local = n <= row_threshold and est <= max_bytes
    _log_decision(tag, n, est, local)
    return n, local


def fits_in_driver(
    df: DataFrame,
    n_rows: int,
    max_bytes: int = DRIVER_LOCAL_MAX_BYTES,
    tag: str | None = None,
) -> bool:
    """True when collecting ``df`` is within the driver byte budget.
    Every decision is appended to :data:`DECISION_LOG` (with the
    caller's ``tag``) so the taken path is observable by bench.py and
    pinnable by tests."""
    est = estimated_bytes(df, n_rows)
    local = est <= max_bytes
    _log_decision(tag, n_rows, est, local)
    return local


def frames_fit(frames, tag: str | None = None) -> bool:
    """True when collecting every frame in ``frames`` together stays
    within :data:`DRIVER_LOCAL_MAX_BYTES` (read at call time). One
    aggregate over the union of the frames' row widths sizes them all,
    and one :data:`DECISION_LOG` entry records the total row count, the
    estimate and the decision."""
    widths = reduce(
        DataFrame.unionAll,
        [df.select(_row_width_expr(df).alias("w")) for df in frames],
    )
    row = widths.agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("w")
    ).collect()[0]
    n = int(row["n"])
    est = int((row["w"] or 0) * _PY_OVERHEAD)
    local = est <= DRIVER_LOCAL_MAX_BYTES
    _log_decision(tag, n, est, local)
    return local
