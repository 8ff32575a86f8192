"""Pangraph export, IVF ANN, connected components, BPE tokens, quality
filter."""

import random

from pyspark.sql import functions as F

from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
from net_spider_spark.graph.components import connected_components
from net_spider_spark.pangraph import make_edges, make_vertices, write_pangraph
from net_spider_spark.pipeline import similarity as S
from net_spider_spark.pipeline.text import bpe_token_stats, quality_filter
from net_spider_spark.snapshot import Query, get_snapshot


def test_pangraph_export(spark):
    findings = [
        FoundNode("a", 1500, [FoundLink("b", "to_target", {"w": "3"})]),
    ]
    from net_spider_spark.snapshot import BOUNDARY_MARK

    nodes, links = get_snapshot(
        findings_to_df(spark, findings), Query(boundary_mode=BOUNDARY_MARK)
    )
    verts = {r["vertex_id"]: r["attributes"] for r in make_vertices(nodes).collect()}
    # PangraphSpec.hs:27-58: @is_on_boundary always present (Haskell
    # show rendering), @timestamp only when observed
    assert verts["a"]["@timestamp"] == "1500"
    assert verts["a"]["@is_on_boundary"] == "False"
    assert "@timestamp" not in verts["b"]  # never observed
    assert verts["b"]["@is_on_boundary"] == "True"
    edges = make_edges(links).collect()
    assert edges[0]["attributes"] == {
        "@timestamp": "1500", "@is_directed": "True", "w": "3"}
    xml = write_pangraph(nodes, links)
    assert 'attr.type="string"' in xml and "<edge source=\"a\"" in xml


def test_pangraph_file_writer_identical_output(spark, tmp_path):
    # S11 symmetry with graphml.write_graphml_file: the file writer
    # emits byte-identical output to the string writer.
    from net_spider_spark.pangraph import write_pangraph_file

    findings = [
        FoundNode('v<&>"1', 1500, [FoundLink("v'2", "to_target", {"w": "3"})],
                  {"label": "a<b&c>"}),
        FoundNode("v'2", 2500, [FoundLink("v3", "to_subject", {"m": "7"})]),
    ]
    nodes, links = get_snapshot(findings_to_df(spark, findings), Query())
    # persist: snapshot row order is shuffle-derived, so the in-memory
    # writer's collect and the file writer's iterator must read the
    # same materialization to compare byte-for-byte
    nodes, links = nodes.persist(), links.persist()
    in_memory = write_pangraph(nodes, links)
    out = tmp_path / "snap.pangraph.graphml"
    write_pangraph_file(nodes, links, str(out))
    assert out.read_text(encoding="utf-8") == in_memory
    nodes.unpersist(); links.unpersist()

    # multi-partition frames
    big_nodes = (
        spark.range(500)
        .repartition(8)
        .select(
            F.concat(F.lit("p"), F.col("id")).alias("node_id"),
            F.lit(False).alias("is_on_boundary"),
            (F.col("id") * 7).alias("node_ts"),
            F.create_map(F.lit("k"), F.col("id").cast("string")).alias(
                "node_attrs"
            ),
        )
    )
    big_links = (
        spark.range(499)
        .repartition(8)
        .select(
            F.concat(F.lit("p"), F.col("id")).alias("source_node"),
            F.concat(F.lit("p"), (F.col("id") + 1)).alias("dest_node"),
            F.lit(True).alias("is_directed"),
            (F.col("id") * 7).alias("link_ts"),
            F.create_map(F.lit("w"), F.lit("2")).alias("link_attrs"),
        )
    )
    out2 = tmp_path / "big.pangraph.graphml"
    write_pangraph_file(big_nodes, big_links, str(out2))
    text = out2.read_text(encoding="utf-8")
    assert text == write_pangraph(big_nodes, big_links)
    assert text.count("<node ") == 500 and text.count("<edge ") == 499



def test_pangraph_streams_above_driver_budget(spark, monkeypatch):
    # write_pangraph sizes its tables with the same guard as GraphML:
    # above the budget it streams and never collects the vertex/edge
    # tables (the guard's own one-row aggregate may collect), with the
    # same bytes as under it. Each export logs one "pangraph" decision.
    from pyspark.sql import DataFrame

    from net_spider_spark import sizing

    findings = [
        FoundNode("a", 1500, [FoundLink("b", "to_target", {"w": "3"})],
                  {"label": "x<y"}),
        FoundNode("b", 2500, [FoundLink("c", "to_subject", {})]),
    ]
    nodes, links = get_snapshot(findings_to_df(spark, findings), Query())
    nodes, links = nodes.persist(), links.persist()
    n_log = len(sizing.DECISION_LOG)
    expected = write_pangraph(nodes, links)

    real_collect = DataFrame.collect

    def no_table_collect(self):
        if "attributes" in self.columns:
            raise AssertionError("over-budget write_pangraph collected a table")
        return real_collect(self)

    monkeypatch.setattr(sizing, "DRIVER_LOCAL_MAX_BYTES", 0)
    monkeypatch.setattr(DataFrame, "collect", no_table_collect)
    got = write_pangraph(nodes, links)
    monkeypatch.setattr(DataFrame, "collect", real_collect)
    nodes.unpersist(); links.unpersist()
    assert got == expected
    assert [(d["tag"], d["local"]) for d in sizing.DECISION_LOG[n_log:]] == [
        ("pangraph", True), ("pangraph", False)
    ]

def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")],
        "src string, dst string",
    )
    got = {
        r["node_id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}


def test_ivf_topk_exact_when_probing_all(spark):
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3)
    c = emb.where(F.col("vec_id") >= 3)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.brute_force_topk(q, c, k=3).collect()
    }
    ivf_all = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.ivf_topk(q, c, k=3, n_centroids=4, n_probe=4).collect()
    }
    assert ivf_all == exact
    # fewer probes: still returns k per query, recall may drop
    ivf_1 = S.ivf_topk(q, c, k=3, n_centroids=4, n_probe=1).collect()
    assert len(ivf_1) <= 9
    recall = len({(r["query_id"], r["neighbor_id"]) for r in ivf_1}
                 & {(a, b) for a, b, _ in exact}) / len(exact)
    assert recall > 0


def test_ivf_topk_deterministic_across_runs(spark):
    # The deterministic md5-seeded coarse quantizer must return the
    # SAME pruned result set on repeated invocations — the property
    # MLlib KMeans lacked (kmeans|| init + run-order-dependent partial
    # sums drifted centroids under a fixed seed), and the property the
    # DuckDB oracle's cell/probe replay depends on.
    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4)
    c = emb.where(F.col("vec_id") >= 4)

    def run():
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in S.ivf_topk(
                q, c, k=3, n_centroids=4, n_probe=2
            ).collect()
        )

    first = run()
    assert first == run()
    assert len(first) == 12  # k rows per query, pruning notwithstanding


def test_bpe_tokens_and_quality_filter(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello world, it's 2024! The quick brown fox of the and a to."),
            (2, "x" * 30),      # too short for min_chars=50
            (3, "the " * 40),   # long, clean
        ],
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_stats(docs).collect()}
    # "it's" splits into " it" + "'s"; numbers and punctuation separate
    assert stats[1] >= 16
    kept = sorted(
        r["doc_id"]
        for r in quality_filter(docs, min_chars=50, max_punct_ratio=0.2,
                                min_alpha_ratio=0.5).collect()
    )
    assert kept == [1, 3]


def test_null_neighbor_links_tolerated(spark):
    """A finding row with NULL neighbor_links (vs empty array) must
    behave like a no-neighbor observation, not crash the explode."""
    from net_spider_spark.model import FINDINGS_SCHEMA

    rows = [
        (0, "a", 1000, None, None, None, {}, None),
        (1, "b", 2000, None, None, None, {}, [("a", "to_target", {})]),
    ]
    df = spark.createDataFrame(rows, FINDINGS_SCHEMA)
    nodes, links = get_snapshot(df, Query())
    got = {r["node_id"]: r["node_ts"] for r in nodes.collect()}
    assert got == {"a": 1000, "b": 2000}
    assert [(r["source_node"], r["dest_node"]) for r in links.collect()] == [("b", "a")]


def test_embedding_near_dup_groups(spark):
    from net_spider_spark.pipeline.dedup import embedding_near_dup_groups

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.05, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),     # orthogonal
        (4, [0.98, 0.08, 0.01]),  # near-dup of 1 and 2 (chained group)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["group_id"], r["is_keeper"])
        for r in embedding_near_dup_groups(emb, threshold=0.95).collect()
    }
    assert got == {1: (1, True), 2: (1, False), 3: (3, True), 4: (1, False)}


def test_pangraph_reference_spec_values(spark):
    # PangraphSpec.hs:27-77 verbatim: the exact attribute sets the
    # reference's makeVertex/makeEdge produce, incl. the display-zone
    # meta attributes of a "+09:00" timestamp (empty @tz_name — a
    # numeric offset parses to an unnamed zone) and Haskell-show
    # booleans.
    nodes = spark.createDataFrame(
        [
            # fromS "2018-03-22T09:00:00+09:00" -> 1521676800000, zone
            # (540, False, "")
            ("node ID", False, 1521676800000, {}, 540, False, ""),
            ("119", True, None, {"foo": "bar", "quux": "100"},
             None, None, None),
        ],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>, tz_offset_min int, "
        "tz_summer_only boolean, tz_name string",
    )
    got = {r["vertex_id"]: dict(r["attributes"])
           for r in make_vertices(nodes).collect()}
    assert got["node ID"] == {
        "@is_on_boundary": "False",
        "@timestamp": "1521676800000",
        "@tz_name": "",
        "@tz_offset_min": "540",
        "@tz_summer_only": "False",
    }
    assert got["119"] == {
        "@is_on_boundary": "True",
        "foo": "bar",
        "quux": "100",
    }

    links = spark.createDataFrame(
        # fromS "2018-07-18T22:34:01" (no zone) -> 1531953241000
        [("src", "dst", True, 1531953241000,
          {"text": "hoge", "int": "256"})],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    )
    e = make_edges(links).collect()[0]
    assert (e["source"], e["target"]) == ("src", "dst")
    assert dict(e["attributes"]) == {
        "@is_directed": "True",
        "@timestamp": "1531953241000",
        "int": "256",
        "text": "hoge",
    }


def test_ivf_topk_scan_matches_relational(spark, monkeypatch):
    # The Arrow cosine-scan fast path (bounded query batch broadcast,
    # driver-side probe selection, per-batch partial top-k) must
    # reproduce the relational crossJoin/probe-join/window path EXACTLY
    # — the scan replays the same float64 folds (dot, norm, probe
    # distance) element-order for element-order, and partial top-k is
    # a pure selection.
    rng = random.Random(13)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4)
    c = emb.where(F.col("vec_id") >= 4)

    def run():
        return sorted(
            map(
                tuple,
                S.ivf_topk(q, c, k=3, n_centroids=4, n_probe=2).collect(),
            )
        )

    fast = run()
    monkeypatch.setenv("NET_SPIDER_LOCAL_ADC", "0")
    assert fast == run()


def test_ivf_topk_scan_zero_vector_parity(spark, monkeypatch):
    # Zero-norm corpus vectors: Spark's non-ANSI Divide yields NULL
    # cosine (sorts LAST under desc), while an unmasked numpy 0/0
    # yields NaN (which the NaN-first key sorted FIRST) — a zero
    # embedding in a probed cell must NOT steal rank 1 on the scan
    # path. Both paths must agree on the full result.
    rng = random.Random(29)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    # plant zero vectors in the corpus (ids spread across cells)
    rows += [(100 + i, [0.0] * 8) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3)
    c = emb.where(F.col("vec_id") >= 3)

    def run():
        return sorted(
            map(
                tuple,
                S.ivf_topk(q, c, k=3, n_centroids=4, n_probe=3).collect(),
            )
        )

    fast = run()
    monkeypatch.setenv("NET_SPIDER_LOCAL_ADC", "0")
    assert fast == run()
