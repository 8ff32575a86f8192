"""Shipped RPL unifier configs: the DIO two-endpoint MergedDIOLink
merge (net-spider-rpl/src/NetSpider/RPL/DIO.hs:254-288) and the DAO
no-negation default merge (DAO.hs:139-140), driven through the full
snapshot pipeline. The merged-attribute expectations mirror the
MergedDIOLink example in test/NetSpider/RPL/DIOSpec.hs:36-44."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from net_spider_spark.findings import (
    FoundLink,
    FoundNode,
    findings_to_df,
    pair_link_samples,
)
from net_spider_spark.model import FINDINGS_SCHEMA
from net_spider_spark.rpl.dao import dao_def_query, dao_unifier_conf
from net_spider_spark.rpl.dio import dio_def_query, dio_link_state, dio_unifier_conf
from net_spider_spark.snapshot import (
    Query,
    get_snapshot,
    latest_findings_per_node,
    negate_and_resolve,
)


def _dio_link(target, nt, rank, metric=None, ts_state=None):
    attrs = {"neighbor_type": nt, "neighbor_rank": str(rank)}
    if metric is not None:
        attrs["metric"] = str(metric)
    return FoundLink(target, ts_state or dio_link_state(nt), attrs)


def _links(spark, findings, query):
    _, links = get_snapshot(findings_to_df(spark, findings), query)
    return [r.asDict(recursive=True) for r in links.collect()]


def test_dio_merge_both_endpoints(spark):
    # DIOSpec.hs:36-44 golden shape: preferred_parent side wins, its
    # attrs become source_*, the other endpoint's become dest_*; the
    # absent Maybe metric is omitted, not empty.
    findings = [
        FoundNode("a", 2000, [_dio_link("b", "preferred_parent", 590, 132)]),
        FoundNode("b", 1000, [_dio_link("a", "other_neighbor", 722)]),
    ]
    rows = _links(spark, findings, dio_def_query())
    assert len(rows) == 1
    r = rows[0]
    assert (r["source_node"], r["dest_node"], r["is_directed"]) == ("a", "b", True)
    assert r["link_ts"] == 2000
    assert r["link_attrs"] == {
        "source_neighbor_type": "preferred_parent",
        "source_neighbor_rank": "590",
        "source_metric": "132",
        "dest_neighbor_type": "other_neighbor",
        "dest_neighbor_rank": "722",
    }


def test_dio_merge_more_parentish_side_wins(spark):
    # The base sample comes from whichever endpoint reports the more
    # parent-ish neighbor type (DIO.hs:270-276) — even when the OTHER
    # side's observation is newer. Negation is off, so the newer
    # "unused" observation by `a` does not kill the link either.
    findings = [
        FoundNode("a", 2000, [_dio_link("b", "other_neighbor", 900)]),
        FoundNode("b", 1000, [_dio_link("a", "preferred_parent", 300, 7)]),
    ]
    rows = _links(spark, findings, dio_def_query())
    assert len(rows) == 1
    r = rows[0]
    # winner = b's sample (to_target): link b -> a, at b's timestamp
    assert (r["source_node"], r["dest_node"]) == ("b", "a")
    assert r["link_ts"] == 1000
    assert r["link_attrs"]["source_neighbor_type"] == "preferred_parent"
    assert r["link_attrs"]["source_metric"] == "7"
    assert r["link_attrs"]["dest_neighbor_type"] == "other_neighbor"
    assert "dest_metric" not in r["link_attrs"]


def test_dio_one_sided_has_no_dest_attrs(spark):
    findings = [
        FoundNode("a", 1500, [_dio_link("b", "preferred_parent", 256)]),
    ]
    rows = _links(spark, findings, dio_def_query())
    assert len(rows) == 1
    attrs = rows[0]["link_attrs"]
    assert attrs["source_neighbor_type"] == "preferred_parent"
    assert not any(k.startswith("dest_") for k in attrs)


def test_dio_both_non_preferred_dropped(spark):
    # dioLinkState: no preferred parent on either side -> both samples
    # are 'unused' -> the merged link is dropped from the snapshot.
    findings = [
        FoundNode("a", 2000, [_dio_link("b", "parent_candidate", 10)]),
        FoundNode("b", 1000, [_dio_link("a", "other_neighbor", 20)]),
    ]
    assert _links(spark, findings, dio_def_query()) == []


def test_dio_latest_sample_per_side(spark):
    # Each endpoint contributes its LATEST sample to the merge; stale
    # observations (a@1000 parent_candidate) are ignored.
    findings = [
        FoundNode("a", 1000, [_dio_link("b", "parent_candidate", 11)]),
        FoundNode("a", 3000, [_dio_link("b", "preferred_parent", 12)]),
        FoundNode("b", 2000, [_dio_link("a", "other_neighbor", 13)]),
    ]
    rows = _links(spark, findings, dio_def_query(found_node_policy="append"))
    assert len(rows) == 1
    r = rows[0]
    assert r["link_ts"] == 3000
    assert r["link_attrs"]["source_neighbor_rank"] == "12"
    assert r["link_attrs"]["dest_neighbor_rank"] == "13"


def test_dio_tie_keeps_lesser_endpoint(spark):
    # Equal neighbor types: main = the pair's lesser node ID (the
    # left operand of mergeSamples), per `neighborType main <= sub`.
    findings = [
        FoundNode("b", 2000, [_dio_link("a", "preferred_parent", 2)]),
        FoundNode("a", 1000, [_dio_link("b", "preferred_parent", 1)]),
    ]
    rows = _links(spark, findings, dio_def_query())
    assert len(rows) == 1
    r = rows[0]
    assert (r["source_node"], r["dest_node"]) == ("a", "b")
    assert r["link_ts"] == 1000
    assert r["link_attrs"]["source_neighbor_rank"] == "1"
    assert r["link_attrs"]["dest_neighbor_rank"] == "2"


def test_dao_unifier_disables_negation(spark):
    # defNegatesLinkSample would kill this link (b has a newer node
    # timestamp and no link back); daoUnifierConf must keep it.
    findings = [
        FoundNode("a", 1000, [FoundLink("b", "to_target", {"path_lifetime_sec": "2560"})]),
        FoundNode("b", 2000, []),
    ]
    default_rows = _links(spark, findings, Query())
    dao_rows = _links(spark, findings, dao_def_query())
    assert default_rows == []
    assert len(dao_rows) == 1
    assert dao_rows[0]["link_attrs"] == {"path_lifetime_sec": "2560"}


def test_unifier_conf_shapes():
    dio = dio_unifier_conf()
    # a Catalyst column merge, no pandas hook
    assert dio.merge_sides is not None and dio.merge_samples is None
    dao = dao_unifier_conf()
    assert dao.merge_sides is None and dao.merge_samples is None


# ---------------------------------------------------------------------------
# DIO merge property: the Catalyst merge against the pandas reference
# ---------------------------------------------------------------------------

#: ``NeighborType`` merge precedence (DIO.hs:110-123, derive Ord).
_NT_ORDER = {"preferred_parent": 0, "parent_candidate": 1, "other_neighbor": 2}

_ORACLE_SCHEMA = (
    "p1 string, p2 string, finding_id long, link_pos int, subject_node string, "
    "target_node string, link_state string, found_at long, "
    "link_attrs map<string,string>"
)
_ORACLE_COLS = [c.split()[0] for c in _ORACLE_SCHEMA.split(", ")]


def _nt_order(attrs) -> int:
    nt = (attrs or {}).get("neighbor_type")
    return _NT_ORDER.get(nt, len(_NT_ORDER))


def _prefixed(prefix, attrs) -> dict:
    return {
        f"{prefix}{k}": v
        for k, v in (attrs or {}).items()
        if v is not None and v != ""
    }


def oracle_dio_merge_samples(pdf: pd.DataFrame) -> pd.DataFrame:
    """The pandas grouped-map DIO merge the engine ran before its
    Catalyst merge (``mergeSamples`` of ``dioUnifierConf``,
    DIO.hs:254-279), kept as the reference: each endpoint's latest
    sample, the more parent-ish one as the base (the pair's lesser
    node ID on a tie), ``source_``/``dest_``-prefixed attrs."""
    p1 = pdf["p1"].iat[0]
    sides = []
    for side_mask in (pdf["subject_node"] == p1, pdf["subject_node"] != p1):
        side = pdf[side_mask]
        if len(side):
            side = side.sort_values(["found_at", "finding_id", "link_pos"])
            sides.append(side.iloc[-1])
        else:
            sides.append(None)
    left, right = sides
    if left is None and right is None:
        return pdf.iloc[0:0][_ORACLE_COLS]
    if left is None or right is None:
        main, sub = (left if right is None else right), None
    else:
        main, sub = left, right
        if _nt_order(main["link_attrs"]) > _nt_order(sub["link_attrs"]):
            main, sub = sub, main
    merged = _prefixed("source_", main["link_attrs"])
    if sub is not None:
        merged.update(_prefixed("dest_", sub["link_attrs"]))
    out = main.to_frame().T.copy()
    out["link_attrs"] = [merged]
    return out[_ORACLE_COLS]


def _random_dio_history(rng):
    """Findings over 6 nodes: found_at from 3 values (ties broken by
    finding_id), a target may repeat within a finding (ties broken by
    link_pos), neighbor types of all four ranks (missing and unknown
    rank last), null attr maps, '' and null attr values. No sample is
    'unused', so every merged link reaches the snapshot."""
    nodes = [f"n{i}" for i in range(6)]
    rows = []
    for fid in range(40):
        subject = rng.choice(nodes)
        links = []
        for _ in range(rng.randint(0, 3)):
            attrs = None
            if rng.random() > 0.1:
                attrs = {"neighbor_rank": str(rng.randint(1, 999))}
                nt = rng.choice(list(_NT_ORDER) + ["bogus", None])
                if nt is not None:
                    attrs["neighbor_type"] = nt
                attrs["metric"] = rng.choice(["", None, str(rng.randint(1, 500))])
            target = (links[-1][0] if links and rng.random() < 0.5
                      else rng.choice([n for n in nodes if n != subject]))
            links.append((
                target,
                rng.choice(["to_target", "to_subject", "bidirectional"]),
                attrs,
            ))
        rows.append((fid, subject, rng.choice([1000, 2000, 3000]),
                     None, None, None, {}, links))
    return rows


def _coverage(rows) -> set:
    """Which of the property's cases the history exercises."""
    latest, keys = {}, {}
    for fid, subject, ts, *_, links in rows:
        for pos, (target, _, attrs) in enumerate(links):
            pair = (min(subject, target), max(subject, target))
            side = (pair, subject == pair[0])
            keys.setdefault(side, []).append((ts, fid, pos))
            if side not in latest or (ts, fid, pos) > latest[side][0]:
                latest[side] = ((ts, fid, pos), attrs)
    cases = set()
    for (pair, is_left), (_, attrs) in latest.items():
        other = latest.get((pair, not is_left))
        cases.add("two-sided" if other else "one-sided")
        cases.add(f"rank {_nt_order(attrs)}")
        if attrs is None:
            cases.add("null map")
        else:
            cases.update(
                "'' value" if v == "" else "null value"
                for v in attrs.values() if v in ("", None)
            )
        if other and is_left and _nt_order(attrs) == _nt_order(other[1]):
            cases.add("equal ranks")
    for side, ks in keys.items():
        best = latest[side][0]
        if any(k[0] == best[0] and k[1] != best[1] for k in ks):
            cases.add("found_at tie")  # finding_id picks the latest
        if any(k[:2] == best[:2] and k != best for k in ks):
            cases.add("finding_id tie")  # link_pos picks the latest
    return cases


def _link_rows(links):
    return sorted(
        (r["source_node"], r["dest_node"], r["is_directed"], r["link_ts"],
         r["attrs"])
        for r in links.select(
            "source_node", "dest_node", "is_directed", "link_ts",
            F.map_entries("link_attrs").alias("attrs"),
        ).collect()
    )


@pytest.mark.parametrize("policy", ["append", "overwrite"])
def test_dio_merge_matches_pandas_reference(spark, policy):
    cases = set()
    for seed in range(4):
        rows = _random_dio_history(random.Random(seed))
        cases |= _coverage(rows)
        findings = spark.createDataFrame(rows, FINDINGS_SCHEMA)
        nodes, links = get_snapshot(
            findings, dio_def_query(found_node_policy=policy))
        kept = (latest_findings_per_node(findings) if policy == "overwrite"
                else findings)
        merged = pair_link_samples(kept).groupBy("p1", "p2").applyInPandas(
            oracle_dio_merge_samples, _ORACLE_SCHEMA)
        want = _link_rows(negate_and_resolve(merged, nodes, dio_unifier_conf()))
        got = _link_rows(links)
        assert got == want and got, f"seed {seed}"
    if policy == "append":
        assert cases >= {
            "one-sided", "two-sided", "equal ranks", "rank 0", "rank 1",
            "rank 2", "rank 3", "null map", "'' value", "null value",
            "found_at tie", "finding_id tie",
        }, cases


# ---------------------------------------------------------------------------
# Combined-graph JSON wire codecs (JSONUtil.hs:24-46, Combined.hs:67-93)
# ---------------------------------------------------------------------------

def test_combined_node_json_wire_and_roundtrip(spark):
    import json

    from net_spider_spark.rpl.jsonutil import (
        combined_nodes_from_json,
        combined_nodes_to_json,
    )

    rows = [
        ("fd00::1", {"rank": "256", "dio_interval": "12",
                     "dao_route_num": "3"}),
        ("fd00::2", {"rank": "512", "dio_interval": "8"}),
        ("fd00::3", {"dao_route_num": "0"}),
    ]
    nodes = spark.createDataFrame(
        rows, "node_id string, node_attrs map<string,string>"
    )
    enc = {r["node_id"]: json.loads(r["json"])
           for r in combined_nodes_to_json(nodes).collect()}
    # exact reference field names: optCombinedNode lowers + strips
    # "attrs" (JSONUtil.hs:26-29); inner records are optSnake.
    assert enc["fd00::1"] == {"dio": {"rank": 256, "dio_interval": 12},
                              "dao": {"dao_route_num": 3}}
    assert enc["fd00::2"] == {"dio": {"rank": 512, "dio_interval": 8},
                              "dao": None}
    assert enc["fd00::3"] == {"dio": None, "dao": {"dao_route_num": 0}}

    back = {r["node_id"]: r["node_attrs"]
            for r in combined_nodes_from_json(
                combined_nodes_to_json(nodes)).collect()}
    assert back == {nid: attrs for nid, attrs in rows}


def test_nonroot_dao_node_encodes_present_dao(spark):
    # The normal non-root DAO case is `Just (DAONode Nothing)`
    # (DAO.hs:55-61): contiki's non-root branch emits the dao_present
    # marker, combine_nodes carries it, and the wire document must be
    # {"dao": {"dao_route_num": null}} — NOT dao-absent. The marker
    # itself never round-trips into serializer output.
    import json

    from net_spider_spark.graphml import write_graphml
    from net_spider_spark.pangraph import make_vertices
    from net_spider_spark.rpl.combined import combine_nodes
    from net_spider_spark.rpl.jsonutil import combined_nodes_to_json

    dio_nodes = spark.createDataFrame(
        [("dio://[fd00::2]", False, 1000,
          {"rank": "512", "dio_interval": "8"})],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>",
    )
    dao_nodes = spark.createDataFrame(
        [("dao://[fd00::2]", False, 2000, {"dao_present": "true"})],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>",
    )
    combined = combine_nodes(dio_nodes, dao_nodes)
    enc = json.loads(combined_nodes_to_json(combined).collect()[0]["json"])
    assert enc == {"dio": {"rank": 512, "dio_interval": 8},
                   "dao": {"dao_route_num": None}}

    # GraphML hides the marker (`toAttributes (DAONode Nothing) = []`)
    empty_links = spark.createDataFrame(
        [],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    )
    xml = write_graphml(combined, empty_links)
    assert "dao_present" not in xml
    assert "rank" in xml
    # ... and so does the pangraph vertex conversion
    vat = make_vertices(combined).collect()[0]["attributes"]
    assert "dao_present" not in vat and vat["rank"] == "512"


def test_combined_link_json_wire_and_roundtrip(spark):
    import json

    from net_spider_spark.rpl.jsonutil import (
        combined_links_from_json,
        combined_links_to_json,
    )

    rows = [
        ("fd00::1", "fd00::2", True, 2000,
         {"link_type": "dio",
          "source_neighbor_type": "preferred_parent",
          "source_neighbor_rank": "256",
          "source_metric": "128",
          "dest_neighbor_type": "other_neighbor",
          "dest_neighbor_rank": "512"}),
        ("fd00::1", "fd00::3", True, 1500,
         {"link_type": "dio",
          "source_neighbor_type": "parent_candidate",
          "source_neighbor_rank": "300"}),
        ("fd00::2", "fd00::3", True, 1000,
         {"link_type": "dao", "path_lifetime_sec": "300"}),
    ]
    links = spark.createDataFrame(
        rows,
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    )
    enc = {(r["source_node"], r["dest_node"]): json.loads(r["json"])
           for r in combined_links_to_json(links).collect()}
    # TaggedObject wire: tagFieldName "link_type", contentsFieldName
    # "link", tags lowercased to dio/dao (JSONUtil.hs:31-46).
    assert enc[("fd00::1", "fd00::2")] == {
        "link_type": "dio",
        "link": {"from_source": {"neighbor_type": "preferred_parent",
                                 "neighbor_rank": 256, "metric": 128},
                 "from_dest": {"neighbor_type": "other_neighbor",
                               "neighbor_rank": 512, "metric": None}},
    }
    assert enc[("fd00::1", "fd00::3")] == {
        "link_type": "dio",
        "link": {"from_source": {"neighbor_type": "parent_candidate",
                                 "neighbor_rank": 300, "metric": None},
                 "from_dest": None},
    }
    assert enc[("fd00::2", "fd00::3")] == {
        "link_type": "dao", "link": {"path_lifetime_sec": 300}}

    back = {(r["source_node"], r["dest_node"]): r["link_attrs"]
            for r in combined_links_from_json(
                combined_links_to_json(links)).collect()}
    assert back == {(s, d): attrs for s, d, _, _, attrs in rows}


def test_combined_json_reference_golden_fixtures(spark):
    # Verbatim wire documents from the reference's own test suite
    # (net-spider-rpl/test/NetSpider/RPL/CombinedSpec.hs:18-55):
    # decode -> re-encode must reproduce each document exactly.
    import json

    from net_spider_spark.rpl.jsonutil import (
        combined_links_from_json,
        combined_links_to_json,
        combined_nodes_from_json,
        combined_nodes_to_json,
    )

    node_doc = ('{"dio": {"rank": 256, "dio_interval": 12},'
                ' "dao": {"dao_route_num": null}}')
    nodes = spark.createDataFrame(
        [("fd00::1", node_doc)], "node_id string, json string"
    )
    back = combined_nodes_to_json(
        combined_nodes_from_json(nodes)).collect()[0]
    assert json.loads(back["json"]) == json.loads(node_doc)

    link_docs = [
        ('{"link_type": "dio", "link": {"from_dest": null, "from_source":'
         ' {"neighbor_type": "preferred_parent", "neighbor_rank": 332,'
         ' "metric": 183}}}'),
        '{"link_type": "dao", "link": {"path_lifetime_sec": 1990}}',
    ]
    links = spark.createDataFrame(
        [("a", "b", True, 1, d) for d in link_docs],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, json string",
    )
    back_links = combined_links_to_json(
        combined_links_from_json(links)).collect()
    got = [json.loads(r["json"]) for r in back_links]
    want = [json.loads(d) for d in link_docs]
    assert sorted(got, key=str) == sorted(want, key=str)


def test_internal_marker_never_serializes(spark):
    # review fix: the dao_present presence marker must not leak into
    # the SnapshotElement JSON wire either (GraphML/pangraph already
    # strip it) — the reference's Aeson encoding has no such key.
    import json

    from net_spider_spark.snapshot import snapshot_to_json

    nodes = spark.createDataFrame(
        [("n1", False, 1000, {"dao_present": "true", "x": "1"},
          None, None, None)],
        "node_id string, is_on_boundary boolean, node_ts long, "
        "node_attrs map<string,string>, tz_offset_min int, "
        "tz_summer_only boolean, tz_name string",
    )
    links = spark.createDataFrame(
        [],
        "source_node string, dest_node string, is_directed boolean, "
        "link_ts long, link_attrs map<string,string>",
    )
    nj, _ = snapshot_to_json(nodes, links)
    doc = json.loads(nj.collect()[0]["json"])
    assert doc["node_attrs"] == {"x": "1"}
