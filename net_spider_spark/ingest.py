"""History-table storage layout: partitioned, pruning-friendly writes.

The reference ingests row-at-a-time over a WebSocket and warns about
bulk loads (CLI.hs:86-88); here ingest is one vectorized append. The
layout choices are the 100 TB levers:

* **Partition by observation day** (``found_day`` derived from
  ``found_at``): snapshot queries carry a time-interval predicate
  (F1), so partition pruning turns "scan the history" into "scan the
  interval" — the same effect as the reference pushing its timestamp
  filter into the Gremlin traversal, but at the storage layer.
* **Bucket-ish layout by subject**: within a partition, sorting by
  ``subject_node`` clusters each node's findings for the
  policy-dedup aggregate and gives parquet column statistics that
  prune point lookups (the reference's @node_id composite index,
  janusgraph-conf/net-spider-index.groovy:18-34).
"""

from __future__ import annotations

import json
import math
import os
import shutil
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")


def _recover_swap(path: str) -> None:
    """Undo a :func:`swap_dir` crash between its two renames (``path``
    absent, the only copy at ``._old``) before ``path`` is read,
    appended to or swapped: an append must not re-create ``path`` with
    just its own batch while the history sits aside. No Spark action."""
    base = path.rstrip("/")
    if not os.path.exists(base) and os.path.exists(base + "._old"):
        os.rename(base + "._old", base)


_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _listed(name: str) -> bool:
    """Whether Spark's file index lists a file or directory of this
    name (``HadoopFSUtils.shouldFilterOutPathName``)."""
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _local_dir(path: str) -> bool:
    """Whether ``path`` names a local directory (no URI, no glob)."""
    return not any(c in path for c in "{}[]*?\\") and os.path.isdir(path)


def _first_data_file(path: str) -> str | None:
    """The one file Spark's schema inference reads for the table at
    ``path``: the lexicographically first listed leaf, as
    ``ParquetUtils.splitFiles`` sorts them. None when ``path`` is no
    local directory (a URI, a glob, a single file, a missing path) or
    holds a summary file, which Spark would read first."""
    if not _local_dir(path):
        return None
    files = []
    for root, dirs, names in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if _listed(d)]
        for name in names:
            if name.startswith(("_metadata", "_common_metadata")):
                return None
            if _listed(name):
                files.append(os.path.join(root, name))
    return min(files, default=None)


def _footer_schema(spark: SparkSession, path: str):
    """The Spark row schema Spark's inference would give the table at
    ``path`` (the first data file's, see :func:`_first_data_file`),
    read from that file's footer on the driver; None when there is no
    local data file, the footer carries no Spark schema (a file written
    by another tool) or ``spark.sql.parquet.mergeSchema`` is on."""
    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    first = None if merge.lower() == "true" else _first_data_file(path)
    if first is None:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    try:
        row = (pq.read_metadata(first).metadata or {}).get(_ROW_METADATA)
        if row is not None:
            return StructType.fromJson(json.loads(row))
    except (OSError, ValueError, pa.ArrowException):
        pass  # not a footer this reads: Spark's inference decides
    return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Spark infers a table's schema by reading one file's footer in a
    1-task job. This reads the same footer on the driver (pyarrow) and
    hands its Spark row schema to ``spark.read.schema``, so building
    the frame runs no Spark job; partition columns are still discovered
    from the directory names. Spark's own inference is kept where
    :func:`_footer_schema` gives none. The schema is the first file's,
    exactly as Spark would pick it, so a reader of this frame sees the
    same columns (and the same mismatch errors) as a plain read."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def swap_dir(path: str, write: Callable[[str], T]) -> T:
    """Replace the directory ``path`` with what ``write(tmp)`` writes
    into a sibling temp dir, crash-safely; return ``write``'s result.

    Order: recover, clear a stale ``._tmp``, ``write`` into ``._tmp``,
    rename ``path`` aside to ``._old``, rename ``._tmp`` into place,
    delete ``._old``. At every instant one complete copy is on disk,
    as ``path`` or as ``._old`` (the naive rmtree-then-rename order has
    a window with none). A crash between the two renames leaves the
    only copy at ``._old``; :func:`_recover_swap` renames it back before
    the next swap, read or append of the same path, so ``write`` may
    read ``path`` (absent on a first swap). The swap itself runs no
    Spark action. Concurrent readers can still see a gap between the
    two renames; a table format (Delta/Iceberg) closes it.
    """
    base = path.rstrip("/")
    tmp, old = base + "._tmp", base + "._old"
    _recover_swap(base)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # stale partial write from a crashed run
    result = write(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)  # leftover from a crash after rename-new
    if os.path.exists(base):
        os.rename(base, old)
    os.rename(tmp, base)
    if os.path.exists(old):
        shutil.rmtree(old)
    return result


def write_findings(
    findings: DataFrame,
    path: str,
    mode: str = "append",
    partition_by_day: bool = True,
) -> None:
    """Vectorized batch append of findings (S2 ``addFoundNode`` x N).
    Each file is sorted by ``subject_node`` (within its day): the
    planned write sorts by the partition column, and only a sort that
    leads with that column survives it."""
    _recover_swap(path)
    if not partition_by_day:
        writer = findings.sortWithinPartitions("subject_node").write
    else:
        writer = (
            findings.withColumn(
                "found_day",
                F.date_format(
                    F.timestamp_millis(F.col("found_at")), "yyyy-MM-dd"
                ),
            )
            .sortWithinPartitions("found_day", "subject_node")
            .write.partitionBy("found_day")
        )
    writer.mode(mode).parquet(path)


def read_findings(
    spark: SparkSession, path: str, interval=None
) -> DataFrame:
    """Read the history table; optionally prune partitions by a query
    interval BEFORE dropping the layout column.

    Spark cannot infer ``found_day`` bounds from a ``found_at``
    predicate on its own (the dependency is ours, not the planner's),
    so the interval is translated into an explicit partition filter
    here — this is the step that turns a 100 TB history scan into a
    per-interval scan. On a local table with a bounded interval only
    the ``found_day=`` directories inside it are listed (read with the
    table as ``basePath``), so a short interval never lists the whole
    archive, and an interval that holds no day is an empty frame of the
    table's schema. Building the frame runs no Spark job: the schema
    comes from one footer (:func:`read_parquet`) and the partitions
    from the directory listing, which Spark runs as a job only above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    listed directories.
    """
    _recover_swap(path)
    lo = hi = None
    if interval is not None:
        from datetime import datetime, timezone

        from net_spider_spark.interval import _NegInf, _PosInf
        from net_spider_spark.timestamp import to_epoch_ms

        def day_of(bound) -> str:
            ms = to_epoch_ms(bound)
            return datetime.fromtimestamp(ms / 1000.0, timezone.utc).strftime(
                "%Y-%m-%d"
            )

        if not isinstance(interval.lower, _NegInf):
            lo = day_of(interval.lower)
        if not isinstance(interval.upper, _PosInf):
            hi = day_of(interval.upper)
    df = None
    if lo is not None or hi is not None:
        df = _read_days(spark, path, lo, hi)
    if df is None:
        df = read_parquet(spark, path)
    if "found_day" not in df.columns:
        return df
    if lo is not None:
        df = df.filter(F.col("found_day") >= lo)
    if hi is not None:
        df = df.filter(F.col("found_day") <= hi)
    return df.drop("found_day")


def _read_days(
    spark: SparkSession, path: str, lo: str | None, hi: str | None
) -> DataFrame | None:
    """The ``found_day=`` partitions of the local table at ``path``
    whose day lies in ``[lo, hi]`` (``yyyy-MM-dd``, None unbounded),
    with the schema of :func:`_footer_schema`. None, for a whole-table
    read instead, when ``path`` is no local day-partitioned table or
    has no footer schema."""
    if not _local_dir(path):
        return None
    days = [
        name[len("found_day="):] for name in os.listdir(path)
        if name.startswith("found_day=")
    ]
    schema = _footer_schema(spark, path) if days else None
    if schema is None:
        return None
    # the null day (__HIVE_DEFAULT_PARTITION__) fails any bound, as in
    # the partition filter
    inside = sorted(
        os.path.join(path, "found_day=" + day) for day in days
        if day[:1].isdigit()
        and (lo is None or day >= lo)
        and (hi is None or day <= hi)
    )
    reader = spark.read.schema(schema)
    if not inside:
        return reader.parquet()
    return reader.option("basePath", path).parquet(*inside)


def subject_prefix_key(col) -> "F.Column":
    """Order-preserving integer key for a node-ID string: the first 6
    chars base-256 big-endian (absent chars are 0, so shorter strings
    sort first — lexicographic order for ASCII; code points above 255
    clamp, mildly distorting order for non-ASCII IDs, which only costs
    a little pruning selectivity, never correctness). 6 chars = 48
    bits — exact in the double arithmetic the quantizer uses. Pure
    codegen; gives a STRING column a numeric axis for Z-order
    quantization that agrees with the parquet min/max string stats a
    scan pruner consults."""
    k = F.lit(0).cast("long")
    for i in range(1, 7):
        k = k * 256 + F.least(
            F.coalesce(F.ascii(F.substring(col, i, 1)), F.lit(0)),
            F.lit(255),
        )
    return k


def write_findings_zordered(
    findings: DataFrame,
    path: str,
    mode: str = "overwrite",
    n_files: int = 64,
    bits: int = 16,
) -> None:
    """History table laid out along the (subject_node, found_at)
    Z-curve — the storage answer to the reference's @node_id composite
    index (janusgraph-conf/net-spider-index.groovy:18-34), but one
    that ALSO serves the time axis.

    Why not :func:`write_findings`'s day-partition + per-file subject
    sort: that layout prunes F1 interval queries perfectly but leaves
    F2 point lookups reading every file of every day (each write task
    spans the full subject range, so per-file subject stats are
    useless). Z-ordering interleaves a quantized subject prefix with
    found_at, so every file covers a narrow range of BOTH — a point
    lookup on subject_node skips ~(1 - 1/sqrt(n_files)) of files by
    parquet min/max stats alone, and interval predicates still skip
    along the time axis. tests/test_layout.py measures both.

    The written schema is exactly the findings schema (the z machinery
    columns are dropped); readers need no layout knowledge — the
    benefit arrives through pushed-down predicates. ``mode="append"``
    z-orders the new batch independently (per-batch clustering;
    :func:`compact_history` can re-layout later).
    """
    from net_spider_spark import layout as LY

    df = findings.withColumn(
        "_subj_key", subject_prefix_key(F.col("subject_node"))
    )
    LY.write_zordered(
        df,
        path,
        ["_subj_key", "found_at"],
        n_files=n_files,
        bits=bits,
        mode=mode,
        keep_z=False,
        drop_cols=["_subj_key"],
    )


def write_findings_bucketed(
    findings: DataFrame,
    table_name: str,
    n_buckets: int = 64,
    mode: str = "append",
) -> None:
    """Bucketed history table: hash-bucket + sort by ``subject_node``.

    The bucketing lever: every per-subject operation downstream — the
    policy-dedup aggregate, point lookups (F2), subject-keyed joins —
    reads pre-partitioned data and skips its shuffle entirely (the
    relational analogue of the reference's @node_id composite index,
    but it also co-locates *joins*, which an index cannot).
    Catalog-table based (``saveAsTable``); read back with
    ``spark.table(table_name)``.
    """
    (
        findings.write.bucketBy(n_buckets, "subject_node")
        .sortBy("subject_node", "found_at")
        .mode(mode)
        .format("parquet")
        .saveAsTable(table_name)
    )


def _parquet_files(path: str) -> int:
    return sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(path)
    )


def compact_history(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    zorder: bool = False,
) -> dict:
    """Small-file compaction for the partitioned history table.

    Streaming/micro-batch appends leave each day partition littered
    with per-trigger files; at 100 TB the file-listing and
    footer-reading overhead dominates short-interval queries long
    before the data does. Rewrite each day partition into
    ``ceil(rows / target_rows_per_file)`` files, each sorted by
    ``subject_node`` as :func:`write_findings` lays them out. The rewrite goes through :func:`swap_dir`, so a crash
    mid-swap loses nothing and the next compaction recovers the table.

    ``zorder=True`` is the OPTIMIZE-ZORDER shape: instead of the
    per-day subject sort, the whole rewrite lands along the
    (subject_node, found_at) Z-curve (:func:`write_findings_zordered`)
    — use it to convert a stream-appended day-partitioned table (or a
    pile of per-batch z-ordered appends, whose clustering is only
    per-batch) into one globally curve-laid table where point lookups
    AND interval scans prune by file stats. The ``found_day`` layout
    column is dropped in this mode (the time axis moves into the
    curve).

    Returns {"files_before": n, "files_after": m, "rows": r}.
    """

    def rewrite(tmp: str) -> tuple[int, int]:
        df = read_parquet(spark, path)
        files_before = _parquet_files(path)
        if "found_day" in df.columns and not zorder:
            # per-day file budget: ceil(day_rows / target) files for big
            # days, one for small ones, from one per-day count collected
            # to the driver (which also sums to ``rows``). Clustering
            # rows by (day, file-slot) makes each task hold whole slots,
            # so the output file count is at most the budget (hash
            # collisions only merge slots).
            per_day = df.groupBy("found_day").count().collect()
            rows = sum(r["count"] for r in per_day)
            slots = F.create_map(*(
                F.lit(v)
                for r in per_day if r["found_day"] is not None
                for v in (r["found_day"], math.ceil(r["count"] / target_rows_per_file))
            ))
            (
                df.withColumn(
                    "_slot",
                    F.pmod(
                        F.xxhash64("subject_node"),
                        F.coalesce(slots[F.col("found_day")], F.lit(1)),
                    ),
                )
                .repartition(F.col("found_day"), F.col("_slot"))
                .drop("_slot")
                .sortWithinPartitions("found_day", "subject_node")
                .write.mode("overwrite")
                .partitionBy("found_day")
                .parquet(tmp)
            )
            return files_before, rows
        rows = df.count()
        n_files = max(1, math.ceil(rows / target_rows_per_file))
        if zorder:
            write_findings_zordered(
                df.drop("found_day"), tmp, mode="overwrite", n_files=n_files
            )
        else:
            (
                df.repartition(n_files)
                .sortWithinPartitions("subject_node")
                .write.mode("overwrite")
                .parquet(tmp)
            )
        return files_before, rows

    files_before, rows = swap_dir(path, rewrite)
    return {
        "files_before": files_before,
        "files_after": _parquet_files(path),
        "rows": rows,
    }


def clear_all(spark: SparkSession, path: str) -> None:
    """S4 ``clearAll``: truncate the history (overwrite with empty)."""
    from net_spider_spark.model import FINDINGS_SCHEMA

    spark.createDataFrame([], FINDINGS_SCHEMA).write.mode("overwrite").parquet(path)
