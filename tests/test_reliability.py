"""Reliability mode: every mid-plan materialization point honors the
session conf — localCheckpoint (default) vs reliable checkpoint to
stable storage — with identical results and an empty CacheManager in
BOTH modes (the executor-loss contract changes, the semantics don't).
"""

import os

import pytest
from pyspark.sql import functions as F

from net_spider_spark.reliability import (
    RELIABILITY_MODE_CONF,
    materialize,
    reliability_mode,
)


def _cache_manager_empty(spark) -> bool:
    # The session is shared across the whole test run and some library
    # calls legitimately leave LRU-managed cache entries (get_snapshot
    # documents this). These tests assert THIS test's operators add
    # nothing, so start from a clean CacheManager.
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    spark.catalog.clearCache()
    yield


@pytest.fixture
def reliable_session(spark, tmp_path):
    ckpt = str(tmp_path / "reliable_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(RELIABILITY_MODE_CONF, "reliable")
    try:
        yield spark, ckpt
    finally:
        spark.conf.unset(RELIABILITY_MODE_CONF)


def test_default_mode_is_local(spark):
    assert reliability_mode(spark) == "local"


def test_invalid_mode_raises(spark):
    spark.conf.set(RELIABILITY_MODE_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="reliabilityMode"):
            materialize(spark.range(3))
    finally:
        spark.conf.unset(RELIABILITY_MODE_CONF)


def test_reliable_mode_writes_stable_checkpoints(reliable_session):
    spark, ckpt = reliable_session
    df = materialize(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.count() == 100
    # blocks landed in the checkpoint dir, not just executor storage
    found = [
        f for _, _, fs in os.walk(ckpt) for f in fs if not f.startswith(".")
    ]
    assert found
    assert _cache_manager_empty(spark)


def test_operators_agree_across_modes(spark, tmp_path, reliable_session):
    """A representative slice of the materialize()-using operators —
    BFS traversal (loop truncation), MinHash representatives (shared
    shingle table), BM25 (corpus stats), the overwrite snapshot (its
    policy output ``kept``) and a traversal snapshot (its link
    samples) — must produce identical results in both modes and leave
    the CacheManager empty."""
    from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
    from net_spider_spark.pipeline.dedup import dedup_representatives
    from net_spider_spark.pipeline.text import bm25_search
    from net_spider_spark.snapshot import Query, get_snapshot
    from net_spider_spark.traverse import reachable_nodes

    spark, _ = reliable_session
    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma tok{i % 3} " + ("dup phrase " * (i % 4)))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(6)] + [("x1", "x2")],
        "src string, dst string",
    )
    findings = findings_to_df(
        spark,
        [
            FoundNode("a", 10, [FoundLink("b"), FoundLink("c", "to_subject")]),
            FoundNode("b", 20, [FoundLink("a", "bidirectional")]),
            FoundNode("a", 30, [FoundLink("b")], {"k": "v"}),
            FoundNode("c", 40, [FoundLink("d")]),
        ],
    )

    def run_all():
        reach = sorted(
            r["node_id"]
            for r in reachable_nodes(
                edges, spark.createDataFrame([("n0",)], "node_id string")
            ).collect()
        )
        reps = sorted(
            (r["doc_id"], r["cluster_size"])
            for r in dedup_representatives(docs).collect()
        )
        bm = sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_search(docs, ["alpha", "dup"]).limit(50).collect()
        )
        snaps = []
        for query in (
            Query(found_node_policy="overwrite"),
            Query(starts_from=["b"], max_hops=1),
        ):
            for frame in get_snapshot(findings, query):
                snaps.append(sorted(str(r) for r in frame.collect()))
        return reach, reps, bm, snaps

    reliable = run_all()
    assert _cache_manager_empty(spark)
    spark.conf.set(RELIABILITY_MODE_CONF, "local")
    local = run_all()
    assert _cache_manager_empty(spark)
    assert reliable == local
