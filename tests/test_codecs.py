"""Timestamp parsing/formatting, JSON codecs, GraphML writer details
(FoundSpec / SnapshotSpec / GraphML WriterSpec / Timestamp doctests)."""

import json

import pytest

from conftest import spark_jobs
from net_spider_spark.findings import (
    FoundLink,
    FoundNode,
    findings_to_df,
    found_node_from_json,
    found_node_to_json,
)
from net_spider_spark.graphml import write_graphml
from net_spider_spark.interval import Interval
from net_spider_spark.snapshot import Query, get_snapshot
from net_spider_spark.timestamp import (
    Timestamp,
    add_sec,
    format_timestamp,
    parse_timestamp,
)


def test_timestamp_parse_variants():
    # relaxed separators (Timestamp.hs:247-321 doctest cases)
    assert parse_timestamp("2018-12-01T10:00").epoch_ms == 1543658400000
    assert parse_timestamp("2018/12/01 10:00").epoch_ms == 1543658400000
    assert parse_timestamp("2018.12.01").epoch_ms == 1543622400000
    t = parse_timestamp("2018-12-01T10:00:30.123+09:00")
    assert t.tz_offset_min == 540
    assert t.epoch_ms == 1543658400000 - 9 * 3600000 + 30123
    z = parse_timestamp("2018-12-01T10:00Z")
    assert z.tz_offset_min == 0
    with pytest.raises(ValueError):
        parse_timestamp("not a time")


def test_timestamp_format_roundtrip():
    t = parse_timestamp("2018-12-01T10:00:30.123+09:00")
    assert format_timestamp(t) == "2018-12-01T10:00:30.123+09:00"
    # reference doctests (Timestamp.hs:120-133): ms always printed,
    # zero-offset zone renders Z
    assert format_timestamp(Timestamp(1543658400000)) == "2018-12-01T10:00:00.000"
    assert format_timestamp(Timestamp(922011060000, 0, False, "UTC")) == \
        "1999-03-21T10:11:00.000Z"
    # formatZone (Timestamp.hs:138-146) branches on the zone NAME:
    # an empty-named zero-offset zone (what '...+00:00' parses to)
    # renders the offset, NOT 'Z'; a non-UTC named zone renders its
    # name; a 'UTC'-named non-zero/summer-only zone is not utc either.
    assert format_timestamp(parse_timestamp("2018-12-01T10:00+00:00")) == \
        "2018-12-01T10:00:00.000+00:00"
    assert format_timestamp(Timestamp(922011060000, 540, False, "JST")) == \
        "1999-03-21T19:11:00.000JST"
    assert format_timestamp(Timestamp(922011060000, 0, True, "UTC")) == \
        "1999-03-21T10:11:00.000UTC"
    assert add_sec(Timestamp(1000), 2.5).epoch_ms == 3500


def test_interval_text_ends():
    v, inc = Interval.parse_end("i2018-12-01T10:00")
    assert inc is True and v == 1543658400000
    v, inc = Interval.parse_end("x+inf")
    assert inc is False
    iv = Interval.sec_up_to("2018-12-01T10:00", 60)
    assert iv.upper - iv.lower == 60000
    assert iv.contains("2018-12-01T09:59:30")
    assert not iv.contains("2018-12-01T10:00:01")


def test_found_node_json_roundtrip():
    fn = FoundNode(
        "foobar",
        Timestamp(99200),
        [FoundLink("quux", "to_subject", {"a": "1"})],
        {"text": "hoge"},
    )
    doc = json.loads(found_node_to_json(fn))
    # snake_case wire format (FIXTURES.md §4)
    assert doc["subject_node"] == "foobar"
    assert doc["found_at"] == {"epoch_time": 99200}
    assert doc["neighbor_links"][0]["link_state"] == "to_subject"
    back = found_node_from_json(found_node_to_json(fn))
    assert back.subject_node == fn.subject_node
    assert back.epoch_ms == 99200
    assert back.neighbor_links[0].target_node == "quux"
    assert dict(back.neighbor_links[0].link_attrs) == {"a": "1"}


def test_graphml_escaping_and_types(spark):
    findings = [
        FoundNode(
            'n<&>"1', 1000,
            [FoundLink("n'2", "to_target", {"w": "1.5", "ok": "true"})],
            {"label": "a<b&c>\nd"},
        ),
    ]
    nodes, links = get_snapshot(findings_to_df(spark, findings), Query())
    xml = write_graphml(nodes, links)
    # XML escaping (Writer.hs:354-366)
    assert 'id="n&lt;&amp;&gt;&quot;1"' in xml
    assert "&apos;2" in xml
    assert "a&lt;b&amp;c&gt;&#x0a;d" in xml
    # typed key decls: double + boolean inferred, @timestamp long forced
    assert 'attr.name="w" attr.type="double"' in xml
    assert 'attr.name="ok" attr.type="boolean"' in xml
    assert 'attr.name="@timestamp" attr.type="long"' in xml
    # @timestamp_str (Timestamp ToAttributes, Timestamp.hs:105-111;
    # WriterSpec.hs:104-105 key order: right after @timestamp)
    assert 'attr.name="@timestamp_str" attr.type="string"' in xml
    assert xml.index('attr.name="@timestamp"') < xml.index(
        'attr.name="@timestamp_str"')
    # per-edge directed attribute
    assert 'directed="true"' in xml


def test_graphml_edgedefault_option(spark):
    findings = [FoundNode("a", 1, [FoundLink("b", "bidirectional")])]
    nodes, links = get_snapshot(findings_to_df(spark, findings), Query())
    assert 'edgedefault="directed"' in write_graphml(nodes, links)
    assert 'edgedefault="undirected"' in write_graphml(
        nodes, links, default_directed=False
    )
    assert 'directed="false"' in write_graphml(nodes, links)


def test_snapshot_to_json_and_simple(spark):
    from net_spider_spark.snapshot import get_snapshot_simple, snapshot_to_json
    import json as J

    findings = [
        FoundNode("a", 1000, [FoundLink("b", "to_target", {"k": "v"})]),
    ]
    df = findings_to_df(spark, findings)
    nodes, links = get_snapshot_simple(df, ["a"])
    nj, lj = snapshot_to_json(nodes, links)
    ndocs = {J.loads(r["json"])["node_id"]: J.loads(r["json"]) for r in nj.collect()}
    assert ndocs["a"]["timestamp"] == {"epoch_time": 1000}
    # Aeson generic encoding: Nothing -> EXPLICIT null (no
    # omitNothingFields in aesonOpt, Snapshot/Internal.hs:71-75)
    assert ndocs["b"]["timestamp"] is None  # never observed
    assert ndocs["b"]["node_attrs"] is None
    ldoc = J.loads(lj.collect()[0]["json"])
    assert ldoc == {
        "source_node": "a", "dest_node": "b", "is_directed": True,
        "timestamp": {"epoch_time": 1000}, "link_attrs": {"k": "v"},
    }


def test_interval_sec_builders():
    # secSince flips the far end's inclusivity (Interval.hs doctests):
    # inclusive start -> [lo, lo+s); exclusive start -> (lo, lo+s].
    iv = Interval.sec_since("2020-01-01T00:00", 120)
    assert iv.upper - iv.lower == 120_000
    assert iv.lower_inclusive and not iv.upper_inclusive
    ivx = Interval.sec_since("2020-01-01T00:00", 120, inclusive=False)
    assert not ivx.lower_inclusive and ivx.upper_inclusive
    # secUntil: (hi-s, hi] by default
    ivu = Interval.sec_until("2020-01-01T00:02", 120)
    assert ivu.lower == iv.lower
    assert not ivu.lower_inclusive and ivu.upper_inclusive
    # sec_up_to stays inclusive on both ends (secUpTo)
    up = Interval.sec_up_to("2020-01-01T00:02", 120)
    assert up.lower_inclusive and up.upper_inclusive
    # infinite anchors -> empty interval
    from net_spider_spark.interval import NEG_INF, POS_INF

    for anchor in (NEG_INF, POS_INF):
        e = Interval.sec_since(anchor, 60)
        assert not e.lower_inclusive and not e.upper_inclusive
        assert e.lower == e.upper


def test_found_node_json_flat_tz_fields():
    # Timestamp wire format (Timestamp.hs:80-100): FLAT tz fields
    # beside epoch_time — reference-produced JSON keeps its timezone.
    fn = FoundNode("n", Timestamp(5000, 540, False, "JST"), [], {})
    doc = json.loads(found_node_to_json(fn))
    assert doc["found_at"] == {
        "epoch_time": 5000,
        "tz_offset_min": 540,
        "tz_summer_only": False,
        "tz_name": "JST",
    }
    back = found_node_from_json(found_node_to_json(fn))
    assert back.found_at.tz_offset_min == 540
    assert back.found_at.tz_name == "JST"
    # reference FromJSON also accepts an ISO string timestamp
    iso = found_node_from_json(
        '{"subject_node": "n", "found_at": "2018-10-11T11:23:05",'
        ' "node_attrs": {}, "neighbor_links": []}'
    )
    assert iso.epoch_ms == 1539256985000
    # legacy nested form still parses
    legacy = found_node_from_json(
        '{"subject_node": "n", "found_at": {"epoch_time": 1,'
        ' "time_zone": {"offset_min": 60, "summer_only": false, "name": "CET"}},'
        ' "node_attrs": {}, "neighbor_links": []}'
    )
    assert legacy.found_at.tz_offset_min == 60


def test_snapshot_json_roundtrip(spark):
    from net_spider_spark.snapshot import (
        get_snapshot_simple,
        snapshot_from_json,
        snapshot_to_json,
    )

    findings = [
        FoundNode(
            "a",
            Timestamp(1000, 540, False, "JST"),
            [FoundLink("b", "to_target", {"k": "v"})],
            {"m": "1"},
        ),
    ]
    df = findings_to_df(spark, findings)
    nodes, links = get_snapshot_simple(df, ["a"])
    nj, lj = snapshot_to_json(nodes, links)
    # tz rides inside the timestamp object on the wire
    adoc = next(
        json.loads(r["json"])
        for r in nj.collect()
        if json.loads(r["json"])["node_id"] == "a"
    )
    assert adoc["timestamp"]["tz_offset_min"] == 540
    nodes2, links2 = snapshot_from_json(nj, lj)
    n2 = {r["node_id"]: r.asDict() for r in nodes2.collect()}
    assert n2["a"]["node_ts"] == 1000 and n2["a"]["tz_offset_min"] == 540
    # b is reached by the traversal (visited, not boundary), never observed
    assert not n2["b"]["is_on_boundary"] and n2["b"]["node_ts"] is None
    l2 = [r.asDict(recursive=True) for r in links2.collect()]
    assert l2 == [
        {
            "source_node": "a",
            "dest_node": "b",
            "is_directed": True,
            "link_ts": 1000,
            "link_attrs": {"k": "v"},
        }
    ]


def test_graphml_infer_type_no_widening():
    from net_spider_spark.graphml import _infer_type

    assert _infer_type(["true", "5"]) == "string"  # no valid common type
    assert _infer_type(["true", "false", None]) == "boolean"
    assert _infer_type(["1", "2"]) == "long"
    assert _infer_type(["1", "2.5"]) == "double"
    assert _infer_type(["1", "x"]) == "string"


def test_graphml_file_writer_identical_output(spark, tmp_path):
    from net_spider_spark.graphml import write_graphml_file

    # golden shape: escaping, typed keys, tz meta-props, boundary
    findings = [
        FoundNode(
            'n<&>"1', Timestamp(1000, 540, False, "JST"),
            [FoundLink("n'2", "to_target", {"w": "1.5", "ok": "true"})],
            {"label": "a<b&c>\nd"},
        ),
        FoundNode("n'2", 2000, [FoundLink("n3", "to_subject", {"m": "7"})]),
    ]
    nodes, links = get_snapshot(findings_to_df(spark, findings), Query())
    nodes, links = nodes.persist(), links.persist()
    in_memory = write_graphml(nodes, links)
    out = tmp_path / "snap.graphml"
    write_graphml_file(nodes, links, str(out))
    assert out.read_text(encoding="utf-8") == in_memory
    nodes.unpersist(); links.unpersist()


def test_graphml_file_writer_many_nodes(spark, tmp_path):
    # multi-partition frames: the file writer's output matches the
    # string writer's
    from pyspark.sql import functions as F

    from net_spider_spark.graphml import write_graphml_file

    nodes = (
        spark.range(2000)
        .repartition(8)
        .select(
            F.concat(F.lit("node_"), F.col("id")).alias("node_id"),
            F.lit(False).alias("is_on_boundary"),
            (F.col("id") * 10).alias("node_ts"),
            F.create_map(F.lit("k"), F.col("id").cast("string")).alias(
                "node_attrs"
            ),
            F.lit(None).cast("int").alias("tz_offset_min"),
            F.lit(None).cast("boolean").alias("tz_summer_only"),
            F.lit(None).cast("string").alias("tz_name"),
        )
        .persist()
    )
    links = (
        spark.range(1999)
        .repartition(8)
        .select(
            F.concat(F.lit("node_"), F.col("id")).alias("source_node"),
            F.concat(F.lit("node_"), (F.col("id") + 1)).alias("dest_node"),
            F.lit(True).alias("is_directed"),
            (F.col("id") * 10).alias("link_ts"),
            F.create_map(F.lit("w"), F.lit("1.5")).alias("link_attrs"),
        )
        .persist()
    )
    out = tmp_path / "big.graphml"
    write_graphml_file(nodes, links, str(out))
    text = out.read_text(encoding="utf-8")
    assert text == write_graphml(nodes, links)
    assert text.count("<node ") == 2000 and text.count("<edge ") == 1999
    nodes.unpersist(); links.unpersist()


def test_graphml_reference_golden_document(spark):
    # Byte-exact reproduction of the reference's writeGraphMLWith
    # golden output (GraphML/WriterSpec.hs:226-281).
    nodes = spark.createDataFrame(
        [("n1", False, 200, None, None, None, None),
         ("n2", False, None, None, None, None, None)],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>, tz_offset_min int, "
        "tz_summer_only boolean, tz_name string",
    )
    links = spark.createDataFrame(
        [("n1", "n2", True, 200, None)],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    )
    expected = "".join(s + "\n" for s in [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns"',
        ' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"',
        ' xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns'
        ' http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd">',
        '<key id="d0" for="node" attr.name="@timestamp" attr.type="long"/>',
        '<key id="d1" for="node" attr.name="@timestamp_str" attr.type="string"/>',
        '<key id="d2" for="node" attr.name="@is_on_boundary" attr.type="boolean"/>',
        '<key id="d3" for="edge" attr.name="@timestamp" attr.type="long"/>',
        '<key id="d4" for="edge" attr.name="@timestamp_str" attr.type="string"/>',
        '<graph edgedefault="undirected">',
        '  <node id="n1">',
        '    <data key="d0">200</data>',
        '    <data key="d1">1970-01-01T00:00:00.200</data>',
        '    <data key="d2">false</data>',
        '  </node>',
        '  <node id="n2">',
        '    <data key="d2">false</data>',
        '  </node>',
        '  <edge source="n1" target="n2" directed="true">',
        '    <data key="d3">200</data>',
        '    <data key="d4">1970-01-01T00:00:00.200</data>',
        '  </edge>',
        '</graph>',
        '</graphml>',
    ])
    got = write_graphml(
        nodes.orderBy("node_id"), links, default_directed=False
    )
    assert got == expected


def test_graphml_reference_golden_with_tz_and_escaping(spark):
    # Byte-exact reproduction of the reference's writeGraphML golden
    # (GraphML/WriterSpec.hs:59-147): escaped ids, UTF-8 pass-through,
    # +09:00 zone with EMPTY name on a node and an edge, mixed
    # directedness.
    ts_tz = 1537660132000  # 2018-09-23T08:48:52+09:00
    nodes = spark.createDataFrame(
        [('"the root"', False, 100, None, None, None, None),
         ("☃", True, None, None, None, None, None),
         ("<child>", False, ts_tz, None, 540, False, "")],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>, tz_offset_min int, "
        "tz_summer_only boolean, tz_name string",
    )
    links = spark.createDataFrame(
        [('"the root"', "☃", True, 100, None, None, None, None),
         ("<child>", '"the root"', False, ts_tz, None, 540, False, "")],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>, tz_offset_min int, "
        "tz_summer_only boolean, tz_name string",
    )
    expected = "".join(s + "\n" for s in [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns"',
        ' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"',
        ' xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns'
        ' http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd">',
        '<key id="d0" for="node" attr.name="@timestamp" attr.type="long"/>',
        '<key id="d1" for="node" attr.name="@timestamp_str" attr.type="string"/>',
        '<key id="d2" for="node" attr.name="@is_on_boundary" attr.type="boolean"/>',
        '<key id="d3" for="node" attr.name="@tz_offset_min" attr.type="int"/>',
        '<key id="d4" for="node" attr.name="@tz_summer_only" attr.type="boolean"/>',
        '<key id="d5" for="node" attr.name="@tz_name" attr.type="string"/>',
        '<key id="d6" for="edge" attr.name="@timestamp" attr.type="long"/>',
        '<key id="d7" for="edge" attr.name="@timestamp_str" attr.type="string"/>',
        '<key id="d8" for="edge" attr.name="@tz_offset_min" attr.type="int"/>',
        '<key id="d9" for="edge" attr.name="@tz_summer_only" attr.type="boolean"/>',
        '<key id="d10" for="edge" attr.name="@tz_name" attr.type="string"/>',
        '<graph edgedefault="directed">',
        '  <node id="&quot;the root&quot;">',
        '    <data key="d0">100</data>',
        '    <data key="d1">1970-01-01T00:00:00.100</data>',
        '    <data key="d2">false</data>',
        '  </node>',
        '  <node id="☃">',
        '    <data key="d2">true</data>',
        '  </node>',
        '  <node id="&lt;child&gt;">',
        '    <data key="d0">1537660132000</data>',
        '    <data key="d1">2018-09-23T08:48:52.000+09:00</data>',
        '    <data key="d3">540</data>',
        '    <data key="d4">false</data>',
        '    <data key="d5"></data>',
        '    <data key="d2">false</data>',
        '  </node>',
        '  <edge source="&quot;the root&quot;" target="☃" directed="true">',
        '    <data key="d6">100</data>',
        '    <data key="d7">1970-01-01T00:00:00.100</data>',
        '  </edge>',
        '  <edge source="&lt;child&gt;" target="&quot;the root&quot;"'
        ' directed="false">',
        '    <data key="d6">1537660132000</data>',
        '    <data key="d7">2018-09-23T08:48:52.000+09:00</data>',
        '    <data key="d8">540</data>',
        '    <data key="d9">false</data>',
        '    <data key="d10"></data>',
        '  </edge>',
        '</graph>',
        '</graphml>',
    ])
    got = write_graphml(nodes.coalesce(1), links.coalesce(1))
    assert got == expected


def test_graphml_reference_golden_typed_attributes(spark):
    # Byte-exact reproduction of the reference's "with attributes"
    # golden (GraphML/WriterSpec.hs:148-224): struct-typed attrs with
    # int/string/boolean/double keys declared from the schema, record
    # field order, empty-string datum, escaped newline.
    from pyspark.sql import types as T

    node_attrs = T.StructType([
        T.StructField("hoge", T.IntegerType()),
        T.StructField("foo", T.StringType()),
        T.StructField("buzz", T.BooleanType()),
    ])
    link_attrs = T.StructType([
        T.StructField("at2_huga", T.StringType()),
        T.StructField("at2_quux", T.DoubleType()),
    ])
    nodes = spark.createDataFrame(
        [("100", False, 155, (99, "new\nline", False), None, None, None),
         ("200", False, None, (2099, "", True), None, None, None)],
        T.StructType([
            T.StructField("node_id", T.StringType()),
            T.StructField("is_on_boundary", T.BooleanType()),
            T.StructField("node_ts", T.LongType()),
            T.StructField("node_attrs", node_attrs),
            T.StructField("tz_offset_min", T.IntegerType()),
            T.StructField("tz_summer_only", T.BooleanType()),
            T.StructField("tz_name", T.StringType()),
        ]),
    )
    links = spark.createDataFrame(
        [("100", "200", True, 155, ("HUGA", 109.25))],
        T.StructType([
            T.StructField("source_node", T.StringType()),
            T.StructField("dest_node", T.StringType()),
            T.StructField("is_directed", T.BooleanType()),
            T.StructField("link_ts", T.LongType()),
            T.StructField("link_attrs", link_attrs),
        ]),
    )
    expected = "".join(s + "\n" for s in [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns"',
        ' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"',
        ' xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns'
        ' http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd">',
        '<key id="d0" for="node" attr.name="@timestamp" attr.type="long"/>',
        '<key id="d1" for="node" attr.name="@timestamp_str" attr.type="string"/>',
        '<key id="d2" for="node" attr.name="@is_on_boundary" attr.type="boolean"/>',
        '<key id="d3" for="node" attr.name="hoge" attr.type="int"/>',
        '<key id="d4" for="node" attr.name="foo" attr.type="string"/>',
        '<key id="d5" for="node" attr.name="buzz" attr.type="boolean"/>',
        '<key id="d6" for="edge" attr.name="@timestamp" attr.type="long"/>',
        '<key id="d7" for="edge" attr.name="@timestamp_str" attr.type="string"/>',
        '<key id="d8" for="edge" attr.name="at2_huga" attr.type="string"/>',
        '<key id="d9" for="edge" attr.name="at2_quux" attr.type="double"/>',
        '<graph edgedefault="directed">',
        '  <node id="100">',
        '    <data key="d0">155</data>',
        '    <data key="d1">1970-01-01T00:00:00.155</data>',
        '    <data key="d2">false</data>',
        '    <data key="d3">99</data>',
        '    <data key="d4">new&#x0a;line</data>',
        '    <data key="d5">false</data>',
        '  </node>',
        '  <node id="200">',
        '    <data key="d2">false</data>',
        '    <data key="d3">2099</data>',
        '    <data key="d4"></data>',
        '    <data key="d5">true</data>',
        '  </node>',
        '  <edge source="100" target="200" directed="true">',
        '    <data key="d6">155</data>',
        '    <data key="d7">1970-01-01T00:00:00.155</data>',
        '    <data key="d8">HUGA</data>',
        '    <data key="d9">109.25</data>',
        '  </edge>',
        '</graph>',
        '</graphml>',
    ])
    got = write_graphml(nodes.coalesce(1).orderBy("node_id"), links)
    assert got == expected


def test_timestamp_reference_spec_cases():
    # TimestampSpec.hs:16-40 golden parse/ToJSON pairs: a literal Z
    # names the zone UTC, numeric offsets leave the name empty.
    cases = [
        ("2019-12-31T18:46", 1577817960000, None, None),
        ("2019-12-31 18:46:11.037", 1577817971037, None, None),
        ("2019-09-21T00:32Z", 1569025920000, 0, "UTC"),
        ("2019-08-07 11:18:43+07:00", 1565151523000, 420, ""),
        ("2020-08-07T11:18:43.112-02:30", 1596808123112, -150, ""),
    ]
    for text, ms, off, name in cases:
        t = parse_timestamp(text)
        assert (t.epoch_ms, t.tz_offset_min, t.tz_name) == (ms, off, name), text


def test_write_graphml_streams_above_driver_budget(spark, monkeypatch):
    # Library entry point at the sizing guard boundary: when
    # frames_fit says no, write_graphml must route through the
    # toLocalIterator streaming writer — patch DataFrame.collect to
    # fail so any collect on the oversized path is an error, and the
    # document must still come out byte-identical to the small path.
    from pyspark.sql import DataFrame

    from net_spider_spark import sizing

    findings = [
        FoundNode("a", 1000, [FoundLink("b", "to_target", {"w": "1"})]),
        FoundNode("b", 2000, [FoundLink("a", "to_subject", {})]),
    ]
    nodes, links = get_snapshot(findings_to_df(spark, findings), Query())
    nodes, links = nodes.persist(), links.persist()
    expected = write_graphml(nodes, links)

    monkeypatch.setattr(sizing, "frames_fit", lambda *a, **kw: False)
    real_collect = DataFrame.collect

    def no_collect(self):
        raise AssertionError(
            "write_graphml collected a DataFrame above the driver budget"
        )

    monkeypatch.setattr(DataFrame, "collect", no_collect)
    try:
        got = write_graphml(nodes, links)
    finally:
        monkeypatch.setattr(DataFrame, "collect", real_collect)
    assert got == expected
    nodes.unpersist(); links.unpersist()


def test_write_graphml_under_budget_collects_each_side_once(spark, monkeypatch):
    # Under the driver budget the writer sizes both sides from what
    # their cache entries recorded and collects each side once: at most
    # 2 Spark jobs however many partitions, where the two-pass stream
    # runs one job per partition per pass per side (32 here). The
    # inputs are cached and built by the caller, as snapshot results
    # are before export, so sizing builds nothing. The bytes must equal
    # the streamed document's, and each export logs exactly one guard
    # decision.
    import io

    from net_spider_spark import sizing
    from net_spider_spark.graphml import write_graphml_to

    sc = spark.sparkContext
    nodes = spark.createDataFrame(
        sc.parallelize(
            [(f"n{i}", i % 3 == 0, i * 7, {"k": str(i)}) for i in range(400)], 8
        ),
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>",
    ).persist()
    links = spark.createDataFrame(
        sc.parallelize(
            [(f"n{i}", f"n{i + 1}", True, i * 7, {"w": "2"}) for i in range(399)],
            8,
        ),
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    ).persist()
    nodes.count(), links.count()

    def export():
        buf = io.StringIO()
        n_log = len(sizing.DECISION_LOG)
        jobs = spark_jobs(spark)
        write_graphml_to(nodes, links, buf.write)
        return buf.getvalue(), jobs(), sizing.DECISION_LOG[n_log:]

    local_doc, local_jobs, local_log = export()
    monkeypatch.setattr(sizing, "DRIVER_LOCAL_MAX_BYTES", 0)
    streamed_doc, streamed_jobs, streamed_log = export()
    nodes.unpersist(); links.unpersist()

    assert local_doc == streamed_doc
    assert local_doc.count("<node ") == 400
    assert local_jobs <= 2, local_jobs
    assert streamed_jobs >= 2 * 2 * 8
    assert [(d["tag"], d["n_rows"], d["local"], d["filled"]) for d in local_log] == [
        ("graphml", 799, True, 0)
    ]
    assert [(d["tag"], d["local"], d["filled"]) for d in streamed_log] == [
        ("graphml", False, 0)
    ]
    assert local_log[0]["est_bytes"] == streamed_log[0]["est_bytes"] > 0


def _small_snapshot(spark):
    findings = [
        FoundNode(f"n{i}", 1000 + i,
                  [FoundLink(f"n{(i * 7 + 1) % 30}", "to_target", {"w": str(i)})])
        for i in range(30)
    ]
    return get_snapshot(findings_to_df(spark, findings), Query())


def test_write_graphml_of_unmaterialized_snapshot(spark, monkeypatch):
    # The CLI's shape: the export gets the lazy get_snapshot frames.
    # Sizing builds both caches in one job that computes the snapshot
    # (11 jobs in all here; the width aggregate it replaced made it
    # 12), and the export leaves no cache entry behind, on either path.
    import io

    from net_spider_spark import sizing
    from net_spider_spark.graphml import write_graphml_to

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def export():
        nodes, links = _small_snapshot(spark)
        buf = io.StringIO()
        n_log = len(sizing.DECISION_LOG)
        jobs = spark_jobs(spark)
        write_graphml_to(nodes, links, buf.write)
        used = jobs()
        assert cache.isEmpty()
        return buf.getvalue(), used, sizing.DECISION_LOG[n_log:]

    local_doc, local_jobs, local_log = export()
    monkeypatch.setattr(sizing, "DRIVER_LOCAL_MAX_BYTES", 0)
    streamed_doc, _, streamed_log = export()

    assert local_doc == streamed_doc
    assert local_doc.count("<node ") == 30
    assert local_jobs == 11, local_jobs
    assert [(d["local"], d["filled"]) for d in local_log + streamed_log] == [
        (True, 2), (False, 2)
    ]


def test_write_pangraph_under_budget_collects_each_side_once(spark):
    # The pangraph tables project the inputs row for row, so the
    # inputs' cache entries size the export: on cached, built inputs
    # the only jobs are the two collects, and no cache entry of the
    # export's own outlives it.
    from net_spider_spark import sizing
    from net_spider_spark.pangraph import write_pangraph

    spark.catalog.clearCache()
    nodes, links = _small_snapshot(spark)
    nodes, links = nodes.persist(), links.persist()
    nodes.count(), links.count()
    n_log = len(sizing.DECISION_LOG)
    jobs = spark_jobs(spark)
    doc = write_pangraph(nodes, links)
    used = jobs()
    log = sizing.DECISION_LOG[n_log:]
    nodes.unpersist(); links.unpersist()

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert doc.count("<node ") == 30
    assert used <= 2, used
    assert [(d["tag"], d["local"], d["filled"]) for d in log] == [
        ("pangraph", True, 0)
    ]
