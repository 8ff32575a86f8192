"""Driver-local fast-path sizing guards.

The BFS in ``traverse`` and ``graph.components`` take a driver-local
fast path when the deduplicated edge projection is small (one collect,
zero iterative jobs), and the GraphML and pangraph exports collect each side once when
the snapshot is small. A row-count threshold alone mis-sizes wide rows
— 2M edges of 16-byte node IDs is ~100 MB, but 2M edges of kilobyte
URLs is gigabytes. The guards therefore ALSO estimate bytes from actual
row widths and refuse the local path when the estimate exceeds a driver
budget, regardless of row count:

* :func:`count_and_fits` — row count plus byte budget, for the BFS and
  connected components;
* :func:`frames_fit` — byte budget over several persisted frames, for
  export, read from the sizes their Spark cache entries recorded while
  they were built (no sizing job when they are already built);
* :func:`fits_in_driver` — byte budget for a frame whose row count the
  caller already holds (the quality-model trainer in
  ``pipeline.text``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Collecting more than this many estimated bytes to the driver is
# refused even when the row count passes the operator's threshold.
DRIVER_LOCAL_MAX_BYTES = 256 * 1024 * 1024

_SAMPLE_ROWS = 4096

# Ring buffer of recent guard decisions, appended by every guard below.
# A silent local<->distributed path flip makes benchmark numbers
# incomparable (a reworked byte estimate once pushed a reachability
# query off the fast path: +41% wall with no change to the operator).
# Recording every decision lets perfbench report which path each
# operation took and lets tests PIN the expected path, so a flip fails
# CI instead of surfacing as an unexplained wall delta.
DECISION_LOG: list[dict] = []
_DECISION_LOG_MAX = 256


def _log_decision(
    tag: str | None, n_rows: int, est: int, local: bool, **extra
) -> None:
    DECISION_LOG.append(
        {"tag": tag, "n_rows": n_rows, "est_bytes": est, "local": local, **extra}
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
    max_bytes: int | None = None,
    tag: str | None = None,
) -> tuple[int, bool]:
    """Row count + driver-budget check as ONE aggregate job.

    One ``agg(count, avg(width))`` pass over the (persisted) frame
    computes both, averaging the width over EVERY row. Returns
    ``(n_rows, local)`` where local requires BOTH
    ``n_rows <= row_threshold`` and the byte budget (``max_bytes``,
    default :data:`DRIVER_LOCAL_MAX_BYTES` read at call time), and logs
    the combined decision, so a row-threshold refusal is visible in
    :data:`DECISION_LOG` too."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(_row_width_expr(df)).alias("avg_w"),
    ).collect()[0]
    n = int(row["n"])
    est = int((row["avg_w"] or 0.0) * n * _PY_OVERHEAD)
    if max_bytes is None:
        max_bytes = DRIVER_LOCAL_MAX_BYTES
    local = n <= row_threshold and est <= max_bytes
    _log_decision(tag, n, est, local)
    return n, local


def fits_in_driver(
    df: DataFrame,
    n_rows: int,
    max_bytes: int | None = None,
    tag: str | None = None,
) -> bool:
    """True when collecting ``df`` is within the driver byte budget
    (``max_bytes``, default :data:`DRIVER_LOCAL_MAX_BYTES` read at call
    time).
    Every decision is appended to :data:`DECISION_LOG` (with the
    caller's ``tag``) so the taken path is observable and pinnable by
    tests."""
    if max_bytes is None:
        max_bytes = DRIVER_LOCAL_MAX_BYTES
    est = estimated_bytes(df, n_rows)
    local = est <= max_bytes
    _log_decision(tag, n_rows, est, local)
    return local


def _cache_builder(df: DataFrame):
    """The JVM ``CachedRDDBuilder`` of ``df``'s Spark cache entry: it
    knows whether every partition is built, and counts the rows and
    the uncompressed column bytes of what it built. ``ValueError``
    when ``df`` is not persisted."""
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    entry = cache.lookupCachedData(df._jdf)
    if entry.isEmpty():
        raise ValueError("frames_fit sizes persisted frames; persist() it first")
    return entry.get().cachedRepresentation().cacheBuilder()


def frames_fit(frames, tag: str | None = None) -> bool:
    """True when collecting every frame in ``frames`` together stays
    within :data:`DRIVER_LOCAL_MAX_BYTES` (read at call time).

    Every frame must be persisted (``ValueError`` otherwise). Its cache
    entry counted the rows and the column bytes (strings and maps at
    their byte length) while it was built, so built frames are sized
    with no Spark job. Frames not yet fully built are built together
    by one ``noop`` write over the union of their ``lit(1)``
    projections: one job that adds no shuffle of its own and builds
    every column of each cache.
    A recomputed cache partition only adds to the counts, so the
    estimate errs large. One :data:`DECISION_LOG` entry records the
    total row count, the estimate, the decision and ``filled``, the
    number of frames that had to be built."""
    frames = list(frames)
    builders = [_cache_builder(df) for df in frames]
    unbuilt = [
        df for df, b in zip(frames, builders) if not b.isCachedColumnBuffersLoaded()
    ]
    if unbuilt:
        reduce(
            DataFrame.unionAll, [df.select(F.lit(1)) for df in unbuilt]
        ).write.format("noop").mode("overwrite").save()
    n = sum(b.rowCountStats().value() for b in builders)
    est = sum(b.sizeInBytesStats().value() for b in builders) * _PY_OVERHEAD
    local = est <= DRIVER_LOCAL_MAX_BYTES
    _log_decision(tag, n, est, local, filled=len(unbuilt))
    return local
