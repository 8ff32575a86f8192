"""Session cache hygiene: library calls must not leak CacheManager
entries.

A library ``persist()`` that returns a lazy DataFrame over the
persisted input leaves a cache entry that outlives the call with no
owner; in a long-lived driver session those accumulate until
executor-memory eviction churn. The contract tested here: every library
call either materializes internally and unpersists in ``finally``, or
uses ``reliability.materialize`` (RDD-owned blocks, ContextCleaner-freed
when the caller drops the result) instead of the session CacheManager.
After a burst of sequential library calls, the CacheManager must be
EMPTY — the deterministic registry a persist() leak would land in.
"""

import gc
import os

from pyspark.sql import functions as F

DATA = os.path.join(os.path.dirname(__file__), "data")


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _docs(spark, n=60):
    rows = [
        (i, f"alpha beta gamma delta tok{i % 7} tok{i % 5} epsilon zeta")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _edges(spark):
    rows = [(f"n{i}", f"n{i + 1}", 1) for i in range(8)] + [
        ("n5", "n0", 1),
        ("x1", "x2", 2),
    ]
    return spark.createDataFrame(rows, "src string, dst string, weight long")


def test_operator_burst_leaves_cache_manager_empty(spark, tmp_path, monkeypatch):
    from net_spider_spark import cli, sizing
    from net_spider_spark.graph.components import connected_components
    from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
    from net_spider_spark.graphml import write_graphml_to
    from net_spider_spark.incremental import (
        update_latest_links_state,
        update_latest_state,
    )
    from net_spider_spark.ingest import (
        compact_history,
        read_findings,
        write_findings,
    )
    from net_spider_spark.pipeline.dedup import dedup_representatives
    from net_spider_spark.pipeline.text import bm25_search
    from net_spider_spark.rpl.contiki import parse_contiki_logs
    from net_spider_spark.seqid import convert_graph
    from net_spider_spark.snapshot import Query, get_snapshot, snapshot_timeline
    from net_spider_spark.traverse import reachable_nodes

    spark.catalog.clearCache()
    assert _cache_manager_empty(spark)

    docs = _docs(spark)
    edges = _edges(spark)
    log = tmp_path / "mesh.log"
    log.write_text(
        "Nov 12 10:00:00 node1 DAG Node\n"
        "Nov 12 10:00:01 node1 nbr: rpl_print_neighbor_list end\n"
    )

    # The pipeline operators, the RPL parser, the SeqID conversion, and
    # components and the BFS on both their driver-local and distributed
    # paths (local_threshold=0), run back-to-back as a long-lived driver
    # session would.
    dedup_representatives(docs).count()
    bm25_search(docs, ["alpha", "tok1"]).count()
    parse_contiki_logs(spark, str(log), year=2021)[0].count()
    nodes = edges.select(F.col("src").alias("node_id")).distinct()
    convert_graph(
        nodes,
        edges.select(
            F.col("src").alias("source_node"),
            F.col("dst").alias("dest_node"),
        ),
    )[1].count()
    for thresh in (0, 10**6):
        connected_components(edges, local_threshold=thresh).count()
        reachable_nodes(
            edges,
            spark.createDataFrame([("n0",)], "node_id string"),
            max_hops=3,
            local_threshold=thresh,
        ).count()

    # The GraphML writer persists unpersisted inputs for the export and
    # must release them on the collect path (under the driver budget)
    # and on the stream path (above it).
    gml_nodes = spark.createDataFrame(
        [("n0", False, 5, {"k": "v"}), ("n1", True, None, {})],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>",
    )
    gml_links = spark.createDataFrame(
        [("n0", "n1", True, 5, {"w": "2"})],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    )
    for budget in (sizing.DRIVER_LOCAL_MAX_BYTES, 0):
        monkeypatch.setattr(sizing, "DRIVER_LOCAL_MAX_BYTES", budget)
        write_graphml_to(gml_nodes, gml_links, lambda text: None)

    # Whole-graph snapshots under both policies (the overwrite policy's
    # shared output is an RDD-owned materialization, not a persist),
    # traversal snapshots (unbounded and one hop; their link samples
    # are materialized the same way) and the as-of timeline, each
    # consumed as nodes then links.
    findings = findings_to_df(
        spark,
        [
            FoundNode("a", 10, [FoundLink("b"), FoundLink("c", "to_subject")]),
            FoundNode("b", 20, [FoundLink("a", "bidirectional")]),
            FoundNode("a", 30, [FoundLink("b")]),
        ],
    )
    for policy in ("overwrite", "append"):
        snap_nodes, snap_links = get_snapshot(
            findings, Query(found_node_policy=policy)
        )
        snap_nodes.collect()
        snap_links.collect()
    for hops in (None, 1):
        snap_nodes, snap_links = get_snapshot(
            findings, Query(starts_from=["a"], max_hops=hops)
        )
        snap_nodes.collect()
        snap_links.collect()
    snapshot_timeline(findings, [15, 25, 35]).collect()

    # History storage: append and read back, two folds of each latest
    # state, node and link (the second folds into existing state), and
    # a compaction.
    hist = str(tmp_path / "hist")
    write_findings(findings, hist)
    read_findings(spark, hist).collect()
    for update, state in ((update_latest_state, str(tmp_path / "state")),
                          (update_latest_links_state, str(tmp_path / "lstate"))):
        for batch in (findings, read_findings(spark, hist)):
            update(spark, state, batch).collect()
    compact_history(spark, hist)

    # The CLI cis composition: clear, parse + append, then the dio and
    # dao snapshots combined and exported.
    assert cli.main(
        ["--db", str(tmp_path / "cis"), "cis", f"{DATA}/syslog_sample.log",
         "--format", "syslog", "--year", "2021",
         "-o", str(tmp_path / "cis.graphml")],
        spark=spark,
    ) == 0

    gc.collect()
    assert _cache_manager_empty(spark), (
        "a library operator left an ownerless persist() entry in the "
        "session CacheManager"
    )
