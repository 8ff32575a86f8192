"""Round-4 edge cases: empty graphs through both GraphML writers,
combined JSON with empty attr maps, span-removal degenerate params."""

from pyspark.sql import functions as F


def _empty_graph(spark):
    nodes = spark.createDataFrame(
        [],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>, tz_offset_min int, "
        "tz_summer_only boolean, tz_name string",
    )
    links = spark.createDataFrame(
        [],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    )
    return nodes, links


def test_graphml_writers_empty_graph(spark, tmp_path):
    from net_spider_spark.graphml import write_graphml, write_graphml_file

    nodes, links = _empty_graph(spark)
    xml = write_graphml(nodes, links)
    assert "<graphml" in xml and "</graphml>" in xml
    assert "<node" not in xml and "<edge" not in xml
    out = tmp_path / "empty.graphml"
    write_graphml_file(nodes, links, str(out))
    assert out.read_text(encoding="utf-8") == xml


def test_combined_json_empty_attrs(spark):
    import json

    from net_spider_spark.rpl.jsonutil import (
        combined_nodes_from_json,
        combined_nodes_to_json,
    )

    nodes = spark.createDataFrame(
        [("fd00::9", {})], "node_id string, node_attrs map<string,string>"
    )
    enc = combined_nodes_to_json(nodes).collect()[0]
    # neither family present -> both null, like CombinedNode mempty
    assert json.loads(enc["json"]) == {"dio": None, "dao": None}
    back = combined_nodes_from_json(combined_nodes_to_json(nodes)).collect()[0]
    assert back["node_attrs"] == {}


def test_span_removal_min_docs_one_self_dup(spark):
    from net_spider_spark.pipeline.dedup import remove_duplicate_spans

    # min_docs=1: every gram trivially qualifies, so every token covered
    # by any full window is removed; docs shorter than n survive whole.
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_duplicate_spans(docs, n=3, min_docs=1).collect()
    }
    assert got[1] == ("", 5)
    assert got[2] == ("x y", 0)


def test_snapshot_logged_empty_history(spark):
    from net_spider_spark.findings import findings_to_df
    from net_spider_spark.snapshot import Query, get_snapshot_logged

    findings = findings_to_df(spark, [])
    nodes, links, logs = get_snapshot_logged(findings, Query())
    assert nodes.count() == 0 and links.count() == 0
    assert any("unify: 0 link groups from 0 samples" in m for m in logs)


def test_graphml_streaming_writer_never_collects(spark, monkeypatch):
    # Above the driver budget, GraphML serialization must stream
    # through toLocalIterator: the full row list is never materialized
    # on the driver. The guard is forced to refuse, and collect() is
    # patched to fail so any regression to the in-memory path trips.
    import io

    from pyspark.sql import DataFrame

    from net_spider_spark import sizing
    from net_spider_spark.graphml import write_graphml, write_graphml_to

    nodes = spark.createDataFrame(
        [("n1", False, 5, {"k": "v"}, None, None, None),
         ("n2", True, None, {}, None, None, None)],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>, tz_offset_min int, "
        "tz_summer_only boolean, tz_name string",
    )
    links = spark.createDataFrame(
        [("n1", "n2", True, 5, {"w": "2"})],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    )
    expected = write_graphml(nodes, links)

    def boom(self):
        raise AssertionError("streaming writer must not collect()")

    monkeypatch.setattr(sizing, "frames_fit", lambda *a, **kw: False)
    monkeypatch.setattr(DataFrame, "collect", boom)
    buf = io.StringIO()
    write_graphml_to(nodes, links, buf.write)
    assert buf.getvalue() == expected
