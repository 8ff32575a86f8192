"""Byte-based driver-local guard: row count alone must not admit wide
rows to the collect fast path."""

from pyspark.sql import functions as F

from net_spider_spark import sizing
from net_spider_spark.sizing import estimated_bytes, fits_in_driver, frames_fit


def test_narrow_edges_fit(spark):
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(1000)], "src string, dst string"
    )
    assert fits_in_driver(edges, 1000)
    est = estimated_bytes(edges, 1000)
    assert 1000 * 8 < est < 1000 * 200


def test_wide_rows_refused_despite_small_count(spark):
    # 500 rows x ~20 KB of node ID: passes any 2M-row threshold but
    # must fail a 1 MB driver budget on estimated bytes.
    wide = spark.range(500).select(
        F.concat(F.lit("x" * 10_000), F.col("id").cast("string")).alias("src"),
        F.concat(F.lit("y" * 10_000), F.col("id").cast("string")).alias("dst"),
    )
    assert not fits_in_driver(wide, 500, max_bytes=1024 * 1024)
    est = estimated_bytes(wide, 500)
    assert est > 500 * 20_000


def test_wide_attribute_maps_refused(spark, monkeypatch):
    # 500 rows x a ~20 KB attribute map: the map column must count at
    # its serialized width, not as one 8-byte scalar, so a 1 MB budget
    # refuses the collect (the GraphML export's guard sizes these maps).
    wide = spark.range(500).select(
        F.col("id").cast("string").alias("node_id"),
        F.map_from_arrays(
            F.array(*[F.lit(f"k{j}") for j in range(20)]),
            F.array_repeat(F.lit("v" * 1000), 20),
        ).alias("node_attrs"),
    )
    assert not fits_in_driver(wide, 500, max_bytes=1024 * 1024)
    assert estimated_bytes(wide, 500) > 500 * 20_000
    monkeypatch.setattr(sizing, "DRIVER_LOCAL_MAX_BYTES", 1024 * 1024)
    n_log = len(sizing.DECISION_LOG)
    assert not frames_fit([wide, wide.limit(1)], tag="t")
    (entry,) = sizing.DECISION_LOG[n_log:]
    assert (entry["tag"], entry["n_rows"], entry["local"]) == ("t", 501, False)
    assert entry["est_bytes"] > 500 * 20_000


def test_estimate_scales_with_unseen_rows(spark):
    # The sample is bounded; the estimate must extrapolate by n_rows,
    # not by sampled rows.
    df = spark.createDataFrame([("abcd", "efgh")], "src string, dst string")
    one = estimated_bytes(df, 1)
    many = estimated_bytes(df, 1_000_000)
    assert many >= one * 900_000


def test_empty_frame(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert estimated_bytes(df, 0) == 0
    assert fits_in_driver(df, 0)
