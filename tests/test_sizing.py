"""Byte-based driver-local guard: row count alone must not admit wide
rows to the collect fast path."""

import pytest
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
    wide = _wide_map_frame(spark)
    assert not fits_in_driver(wide, 500, max_bytes=1024 * 1024)
    assert estimated_bytes(wide, 500) > 500 * 20_000
    monkeypatch.setattr(sizing, "DRIVER_LOCAL_MAX_BYTES", 1024 * 1024)
    n_log = len(sizing.DECISION_LOG)
    frames = [wide.persist(), wide.limit(1).persist()]
    try:
        assert not frames_fit(frames, tag="t")
    finally:
        for df in frames:
            df.unpersist()
    (entry,) = sizing.DECISION_LOG[n_log:]
    assert (entry["tag"], entry["n_rows"], entry["local"]) == ("t", 501, False)
    assert entry["est_bytes"] > 500 * 20_000


def _wide_map_frame(spark):
    return spark.range(500).select(
        F.col("id").cast("string").alias("node_id"),
        F.map_from_arrays(
            F.array(*[F.lit(f"k{j}") for j in range(20)]),
            F.array_repeat(F.lit("v" * 1000), 20),
        ).alias("node_attrs"),
    )


def _history_deep_snapshot(spark):
    # the perfbench history_deep shape, small: few nodes, several
    # findings each over a fixed neighbourhood, rank/kind node maps, a
    # metric map per link, a zone on every fifth node
    import random

    from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
    from net_spider_spark.snapshot import Query, get_snapshot
    from net_spider_spark.timestamp import Timestamp

    rng = random.Random(3)
    n, degree = 60, 4
    offsets = rng.sample(range(1, n), degree)
    states = ["to_target", "to_subject", "bidirectional", "unused"]
    findings = []
    for k in range(5 * n):
        i = k % n
        nbrs = [(i + o) % n for o in offsets]
        nbrs.pop(rng.randrange(degree))
        ms = 1_600_000_000_000 + k * 1000
        findings.append(FoundNode(
            f"h{i:05d}",
            Timestamp(ms, 540, False, "JST") if i % 5 == 0 else ms,
            [FoundLink(f"h{j:05d}", rng.choice(states),
                       {"metric": str(rng.randrange(1, 1000))}) for j in nbrs],
            {"rank": str(rng.randrange(256, 4096)),
             "kind": "router" if i % 7 == 0 else "sensor"},
        ))
    return get_snapshot(findings_to_df(spark, findings), Query())


def test_cache_estimate_not_below_width_sum(spark):
    # frames_fit reads the bytes the cache recorded; on the export's
    # bench shape and on wide attribute maps that is no smaller than
    # the row-width sum the guard used to aggregate, times the same
    # Python overhead factor.
    frames_sets = [list(_history_deep_snapshot(spark)), [_wide_map_frame(spark)]]
    for frames in frames_sets:
        frames = [df.persist() for df in frames]
        try:
            width_sum = sum(
                df.select(sizing._row_width_expr(df).alias("w"))
                .agg(F.sum("w")).collect()[0][0]
                for df in frames
            )
            n_log = len(sizing.DECISION_LOG)
            frames_fit(frames)
            (entry,) = sizing.DECISION_LOG[n_log:]
        finally:
            for df in frames:
                df.unpersist()
        assert entry["n_rows"] == sum(df.count() for df in frames)
        assert entry["est_bytes"] >= width_sum * sizing._PY_OVERHEAD > 0


def test_frames_fit_needs_persisted_frames(spark):
    with pytest.raises(ValueError, match="persist"):
        frames_fit([spark.range(3)])


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
