"""Z-order (Morton-curve) data layout for multi-column file skipping.

Parquet scans prune files by per-file min/max statistics, but a table
sorted by ONE column has useless stats on every other column. Writing
in Z-order — interleaving the bits of two quantized sort keys — keeps
each file's min/max range narrow on BOTH columns at once, so predicates
on either (or both) skip most files at the scan, before any Spark
task runs. This is the standard lakehouse layout trick (Delta/Iceberg
``OPTIMIZE ZORDER BY``), reimplemented here as plain Catalyst bit
arithmetic + one repartition-and-sort write; reference n/a (extension
suite).

Everything is deterministic: quantization uses driver-collected
min/max (one tiny aggregate) with pure integer/IEEE ops, and the
interleave is a static codegen expression (``tests/test_layout.py``
checks it against a Python spec).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "zorder_interleave",
    "zorder_value",
    "write_zordered",
    "write_bucketed",
]


def zorder_interleave(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two NON-NEGATIVE integer
    columns into one Morton code: bit i of ``a`` lands at position 2i,
    bit i of ``b`` at 2i+1. A static sum of shift/mask terms — pure
    whole-stage codegen, no UDF, no shuffle."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    a = a.cast("long")
    b = b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Scale a numeric column from [lo, hi] onto the integer grid
    [0, 2^bits - 1] (constant column when the range is degenerate).
    floor of a single IEEE multiply/divide on identical operands —
    reproducible across engines."""
    cells = (1 << bits) - 1
    if hi <= lo:
        return F.lit(0).cast("long")
    return F.floor(
        (col.cast("double") - F.lit(float(lo)))
        * F.lit(float(cells))
        / F.lit(float(hi) - float(lo))
    ).cast("long")


def zorder_value(
    df: DataFrame, cols: Sequence[str], bits: int = 16
) -> DataFrame:
    """Add ``z_value``: the Morton code of the two ``cols`` quantized
    onto 2^bits grids between their observed min/max (collected by one
    tiny aggregate). Rows NULL in either column get z_value NULL (sort
    them last at write time)."""
    if len(cols) != 2:
        raise ValueError("z-order here interleaves exactly 2 columns")
    ca, cb = cols
    ext = df.agg(
        F.min(F.col(ca).cast("double")).alias("a_lo"),
        F.max(F.col(ca).cast("double")).alias("a_hi"),
        F.min(F.col(cb).cast("double")).alias("b_lo"),
        F.max(F.col(cb).cast("double")).alias("b_hi"),
    ).first()
    qa = _quantize(F.col(ca), ext["a_lo"], ext["a_hi"], bits)
    qb = _quantize(F.col(cb), ext["b_lo"], ext["b_hi"], bits)
    z = F.when(
        F.col(ca).isNotNull() & F.col(cb).isNotNull(),
        zorder_interleave(qa, qb, bits),
    )
    return df.withColumn("z_value", z)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 64,
    bits: int = 16,
    mode: str = "overwrite",
    keep_z: bool = True,
    drop_cols: Sequence[str] = (),
) -> None:
    """Write ``df`` as ``n_files`` parquet files laid out along the
    Z-curve: rows land in file ``z_value * n_files >> (2*bits)`` (a
    deterministic equal-width slice of the curve — no sampling, unlike
    ``repartitionByRange``) and are sorted by ``z_value`` within each
    file. Each file then covers a narrow range of BOTH layout columns,
    so min/max pruning works for predicates on either — the property
    :mod:`tests.test_layout` measures. One all-to-all shuffle + an
    in-partition sort, the floor for any re-layout.

    ``keep_z=False`` drops the ``z_value`` column before the write
    (the layout survives — it lives in row placement and file stats,
    not in the column) for tables whose schema is a public contract,
    e.g. the findings history (:func:`ingest.write_findings_zordered`).
    """
    with_z = zorder_value(df, cols, bits)
    slice_col = (
        F.coalesce(
            F.shiftright(F.col("z_value") * n_files, 2 * bits),
            F.lit(n_files),  # NULL z-values: one overflow slice
        )
        .cast("int")
        .alias("_zslice")
    )
    out = (
        with_z.withColumn("_zslice", slice_col)
        .repartition(n_files, F.col("_zslice"))
        .sortWithinPartitions("_zslice", "z_value")
        .drop("_zslice")
    )
    if not keep_z:
        out = out.drop("z_value")
    if drop_cols:
        # derived layout-key columns (e.g. a string-prefix integer) the
        # caller added only to give zorder_value a numeric axis
        out = out.drop(*drop_cols)
    out.write.mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Write ``df`` as a BUCKETED (and optionally sorted) parquet
    table and return it re-read through the catalog.

    Bucketing is the co-located-join layout: two tables bucketed into
    the same ``n_buckets`` on their join key hash-partition AT WRITE
    TIME, so every later equi-join or aggregation on that key runs
    with ZERO Exchange on either side — at 100 TB, where one shuffle
    of the fact table dwarfs everything else, this amortizes the big
    join's shuffle into the (one-time) write. The plan property is
    pinned by ``tests/test_layout.py``: join two co-bucketed tables
    with broadcast disabled and the SortMergeJoin has no Exchange
    child.

    ``saveAsTable`` is required — only catalog tables carry bucket
    metadata (``DataFrameWriter.parquet(path)`` silently drops it);
    pass ``path`` to keep the data outside the warehouse dir as an
    external table. Any existing table of the same name is dropped
    first so a stale catalog entry pointing at a vanished temp dir
    can't poison the write.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # repartition by the bucket key first: Spark's bucket assignment is
    # the same Murmur3 hash repartition uses, so each write task owns
    # exactly one bucket — the write parallelizes across buckets and
    # produces one file per bucket instead of one task writing (and
    # sorting) all n_buckets sequentially from a single-scan source.
    w = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
    return spark.table(table)
