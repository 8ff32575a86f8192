"""Golden corpus: the reference's 13 shared snapshot test cases.

Parity target: ``net-spider/test/SnapshotTestCase.hs`` (basics:167-666,
traverses:811-821). Each case runs through BOTH engine modes — whole
graph (Weaver semantics) and starts_from traversal (Spider semantics) —
mirroring the reference's engine-equivalence strategy
(WeaverSpec.hs:170-180 / ServerTest/Snapshot.hs:61-72).
"""

import pytest

from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
from net_spider_spark.snapshot import Query, get_snapshot
from net_spider_spark.timestamp import parse_timestamp
from net_spider_spark.unify import (
    UnifyConfig,
    align_attrs_to_direction,
    sub_id_by_attrs,
)


def ts(s: str) -> int:
    return parse_timestamp(s).epoch_ms


def fl(target, state="to_target", attrs=None):
    return FoundLink(target, state, attrs or {})


def fn(subject, at, links=(), attrs=None):
    return FoundNode(subject, ts(at) if isinstance(at, str) else at, links, attrs or {})


def run_case(spark, findings, mode, starts, **query_kw):
    df = findings_to_df(spark, findings)
    if mode == "spider":
        q = Query(starts_from=starts, **query_kw)
    else:
        q = Query(starts_from=None, **query_kw)
    nodes_df, links_df = get_snapshot(df, q)
    nodes = sorted(
        (r["node_id"], r["is_on_boundary"], r["node_ts"],
         dict(r["node_attrs"]) if r["node_attrs"] is not None else None)
        for r in nodes_df.collect()
    )
    links = sorted(
        (
            (r["source_node"], r["dest_node"], r["is_directed"], r["link_ts"],
             dict(r["link_attrs"]) if r["link_attrs"] is not None else None)
            for r in links_df.collect()
        ),
        key=lambda t: (t[0], t[1], t[2], t[3], sorted((t[4] or {}).items())),
    )
    return nodes, links


def link_pairs(links):
    """Swap-insensitive view, like the reference's linkNodePair."""
    return sorted(
        (tuple(sorted((s, d))), directed, lts) for (s, d, directed, lts, _) in links
    )


MODES = ["weaver", "spider"]

ONE_NEIGHBOR = [fn("n1", "2018-12-01T10:00", [fl("n2", "to_target")])]

APORTS = lambda sp, tp: {"subject_port": sp, "target_port": tp}

aports_unify = UnifyConfig(
    sub_id=sub_id_by_attrs("subject_port", "target_port"),
    winner_transform=align_attrs_to_direction("subject_port", "target_port"),
)


@pytest.mark.parametrize("mode", MODES)
def test_one_neighbor(spark, mode):
    nodes, links = run_case(spark, ONE_NEIGHBOR, mode, ["n1"])
    assert nodes == [
        ("n1", False, ts("2018-12-01T10:00"), {}),
        ("n2", False, None, None),
    ]
    assert links == [("n1", "n2", True, ts("2018-12-01T10:00"), {})]


@pytest.mark.parametrize("mode", MODES)
def test_no_neighbor(spark, mode):
    findings = [fn("n1", "2018-12-01T20:00", [])]
    nodes, links = run_case(spark, findings, mode, ["n1"])
    assert nodes == [("n1", False, ts("2018-12-01T20:00"), {})]
    assert links == []


@pytest.mark.parametrize("mode", MODES)
def test_mutual_neighbors(spark, mode):
    findings = [
        fn("n1", "2018-12-01T10:00", [fl("n2", "to_subject")]),
        fn("n2", "2018-12-01T20:00", [fl("n1", "to_target")]),
    ]
    nodes, links = run_case(spark, findings, mode, ["n1"])
    assert nodes == [
        ("n1", False, ts("2018-12-01T10:00"), {}),
        ("n2", False, ts("2018-12-01T20:00"), {}),
    ]
    assert links == [("n2", "n1", True, ts("2018-12-01T20:00"), {})]


@pytest.mark.parametrize("mode", MODES)
def test_multi_findings_single_node(spark, mode):
    findings = [
        fn("n1", "2018-12-01T20:00",
           [fl("n2", "to_target"), fl("n3", "to_subject")],
           {"text": "at 20:00"}),
        fn("n1", "2018-12-01T10:00", [], {"text": "at 10:00"}),
        fn("n1", "2018-12-01T15:00", [fl("n2", "to_target")], {"text": "at 15:00"}),
    ]
    nodes, links = run_case(spark, findings, mode, ["n1"])
    assert nodes == [
        ("n1", False, ts("2018-12-01T20:00"), {"text": "at 20:00"}),
        ("n2", False, None, None),
        ("n3", False, None, None),
    ]
    assert links == [
        ("n1", "n2", True, ts("2018-12-01T20:00"), {}),
        ("n3", "n1", True, ts("2018-12-01T20:00"), {}),
    ]


def _middle(i, at):
    return fn(
        f"n{i}", at,
        [
            fl(f"n{i - 1}", "to_subject", {"text": f"n{i} to prev"}),
            fl(f"n{i + 1}", "to_target", {"text": f"n{i} to next"}),
        ],
    )


@pytest.mark.parametrize("mode", MODES)
def test_multi_hop_neighbors(spark, mode):
    findings = [
        fn("n1", "2018-12-01T10:00",
           [fl("n2", "to_target", {"text": "first"})]),
        _middle(2, "2018-12-01T05:00"),
        _middle(3, "2018-12-01T15:00"),
        _middle(4, "2018-12-01T20:00"),
        fn("n5", "2018-12-01T15:00",
           [fl("n4", "to_subject", {"text": "last"})]),
    ]
    nodes, links = run_case(spark, findings, mode, ["n1"])
    assert [n[0] for n in nodes] == ["n1", "n2", "n3", "n4", "n5"]
    assert [n[2] for n in nodes] == [
        ts("2018-12-01T10:00"), ts("2018-12-01T05:00"), ts("2018-12-01T15:00"),
        ts("2018-12-01T20:00"), ts("2018-12-01T15:00"),
    ]
    assert all(n[1] is False for n in nodes)
    assert links == [
        ("n1", "n2", True, ts("2018-12-01T10:00"), {"text": "first"}),
        ("n2", "n3", True, ts("2018-12-01T15:00"), {"text": "n3 to prev"}),
        ("n3", "n4", True, ts("2018-12-01T20:00"), {"text": "n4 to prev"}),
        ("n4", "n5", True, ts("2018-12-01T20:00"), {"text": "n4 to next"}),
    ]


@pytest.mark.parametrize("mode", MODES)
def test_loop_network(spark, mode):
    findings = [
        fn("n1", "2018-12-01T10:00",
           [fl("n2", "to_target"), fl("n3", "to_subject")]),
        fn("n2", "2018-12-01T15:00",
           [fl("n1", "to_subject"), fl("n3", "bidirectional")]),
        fn("n3", "2018-12-01T10:00",
           [fl("n1", "to_target"), fl("n2", "bidirectional")]),
    ]
    nodes, links = run_case(spark, findings, mode, ["n1"])
    assert [(n[0], n[1], n[2]) for n in nodes] == [
        ("n1", False, ts("2018-12-01T10:00")),
        ("n2", False, ts("2018-12-01T15:00")),
        ("n3", False, ts("2018-12-01T10:00")),
    ]
    assert link_pairs(links) == [
        (("n1", "n2"), True, ts("2018-12-01T15:00")),
        (("n1", "n3"), True, ts("2018-12-01T10:00")),
        (("n2", "n3"), False, ts("2018-12-01T15:00")),
    ]
    # Direction of the directed ones (linkNodeTuple assertions).
    directed = {(s, d) for (s, d, isd, _, _) in links if isd}
    assert ("n1", "n2") in directed and ("n3", "n1") in directed


@pytest.mark.parametrize("mode", MODES)
def test_multiple_links_between_two_nodes(spark, mode):
    findings = [
        fn("n1", "2018-12-01T20:00",
           [fl("n2", "to_target", APORTS("p4", "p8")),
            fl("n2", "to_target", APORTS("p3", "p6")),
            fl("n2", "to_target", APORTS("p5", "p10"))]),
        fn("n2", "2018-12-01T10:00",
           [fl("n1", "to_subject", APORTS("p6", "p3")),
            fl("n1", "to_subject", APORTS("p10", "p5")),
            fl("n1", "to_subject", APORTS("p8", "p4"))]),
    ]
    nodes, links = run_case(spark, findings, mode, ["n1"], unify=aports_unify)
    assert [(n[0], n[2]) for n in nodes] == [
        ("n1", ts("2018-12-01T20:00")),
        ("n2", ts("2018-12-01T10:00")),
    ]
    got = sorted(
        ((s, d), a["subject_port"], a["target_port"], lts)
        for (s, d, _, lts, a) in links
    )
    t20 = ts("2018-12-01T20:00")
    assert got == [
        (("n1", "n2"), "p3", "p6", t20),
        (("n1", "n2"), "p4", "p8", t20),
        (("n1", "n2"), "p5", "p10", t20),
    ]


@pytest.mark.parametrize("mode", MODES)
def test_link_disappears(spark, mode):
    findings = [
        fn("n1", "2018-12-01T10:00", [fl("n2", "bidirectional")]),
        fn("n2", "2018-12-01T20:00", []),
    ]
    nodes, links = run_case(spark, findings, mode, ["n1"])
    assert [n[0] for n in nodes] == ["n1", "n2"]
    assert links == []


@pytest.mark.parametrize("mode", MODES)
def test_link_appears(spark, mode):
    findings = [
        fn("n1", "2018-12-01T20:00", [fl("n2", "bidirectional")]),
        fn("n2", "2018-12-01T10:00", []),
    ]
    nodes, links = run_case(spark, findings, mode, ["n1"])
    assert [n[0] for n in nodes] == ["n1", "n2"]
    assert links == [("n1", "n2", False, ts("2018-12-01T20:00"), {})]


@pytest.mark.parametrize("mode", MODES)
def test_appear_disappear_multi(spark, mode):
    findings = [
        fn("n2", "2018-12-01T20:00",
           [fl("n1", "to_subject", APORTS("p23", "p13")),   # appears
            fl("n1", "to_subject", APORTS("p22", "p12"))]),  # stays
        fn("n1", "2018-12-01T10:00",
           [fl("n2", "to_target", APORTS("p11", "p21")),    # disappears
            fl("n2", "to_target", APORTS("p12", "p22"))]),   # stays
    ]
    nodes, links = run_case(spark, findings, mode, ["n1"], unify=aports_unify)
    assert [(n[0], n[2]) for n in nodes] == [
        ("n1", ts("2018-12-01T10:00")),
        ("n2", ts("2018-12-01T20:00")),
    ]
    t20 = ts("2018-12-01T20:00")
    got = sorted(
        ((s, d), a["subject_port"], a["target_port"], lts)
        for (s, d, _, lts, a) in links
    )
    # After alignment the attrs read (source-side, dest-side) = (n1's, n2's).
    assert got == [
        (("n1", "n2"), "p12", "p22", t20),
        (("n1", "n2"), "p13", "p23", t20),
    ]


@pytest.mark.parametrize("mode", MODES)
def test_policy_overwrite_and_link_disappear(spark, mode):
    findings = [
        fn("n1", "2020-03-10T15:00", [fl("n4", "bidirectional")]),
        fn("n1", "2020-03-10T14:00",
           [fl("n2", "to_target"), fl("n3", "bidirectional")]),
    ]
    nodes, links = run_case(
        spark, findings, mode, ["n1"], found_node_policy="overwrite"
    )
    assert [(n[0], n[2]) for n in nodes] == [
        ("n1", ts("2020-03-10T15:00")),
        ("n4", None),
    ]
    assert link_pairs(links) == [(("n1", "n4"), False, ts("2020-03-10T15:00"))]


@pytest.mark.parametrize("mode", MODES)
def test_policy_append(spark, mode):
    findings = [
        fn("n1", "2020-02-18T11:00", [fl("n2", "to_target")]),
        fn("n1", "2020-02-18T10:00", [fl("n3", "to_subject")]),
        fn("n1", "2020-02-18T09:00", [fl("n4", "bidirectional")]),
    ]
    nodes, links = run_case(
        spark, findings, mode, ["n1"], found_node_policy="append"
    )
    assert [(n[0], n[2]) for n in nodes] == [
        ("n1", ts("2020-02-18T11:00")),
        ("n2", None),
        ("n3", None),
        ("n4", None),
    ]
    assert links == [
        ("n1", "n2", True, ts("2020-02-18T11:00"), {}),
        ("n1", "n4", False, ts("2020-02-18T09:00"), {}),
        ("n3", "n1", True, ts("2020-02-18T10:00"), {}),
    ]


DIAMOND = [
    # (n1)---(n2)---(n4)---(n5)---(n6)
    #   |            |
    #   +----(n3)----+
    fn("n1", "2020-04-23T10:30", [fl("n2", "bidirectional"), fl("n3", "bidirectional")]),
    fn("n2", "2020-04-23T10:35", [fl("n1", "bidirectional"), fl("n4", "bidirectional")]),
    fn("n3", "2020-04-23T10:20", [fl("n1", "bidirectional"), fl("n4", "bidirectional")]),
    fn("n4", "2020-04-23T10:30",
       [fl("n2", "bidirectional"), fl("n3", "bidirectional"), fl("n5", "bidirectional")]),
    fn("n5", "2020-04-23T11:10", [fl("n4", "bidirectional"), fl("n6", "bidirectional")]),
    fn("n6", "2020-04-23T10:25", [fl("n5", "bidirectional")]),
]


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("policy", ["overwrite", "append"])
def test_diamond_topology(spark, mode, policy):
    nodes, links = run_case(
        spark, DIAMOND, mode, ["n1"], found_node_policy=policy
    )
    assert [n[0] for n in nodes] == ["n1", "n2", "n3", "n4", "n5", "n6"]
    assert all(n[1] is False for n in nodes)
    t = lambda m: ts(f"2020-04-23T{m}")
    assert link_pairs(links) == [
        (("n1", "n2"), False, t("10:35")),
        (("n1", "n3"), False, t("10:30")),
        (("n2", "n4"), False, t("10:35")),
        (("n3", "n4"), False, t("10:30")),
        (("n4", "n5"), False, t("11:10")),
        (("n5", "n6"), False, t("11:10")),
    ]


def test_missing_starting_node(spark):
    nodes, links = run_case(spark, ONE_NEIGHBOR, "spider", ["no node"])
    assert nodes == []
    assert links == []


def test_get_snapshot_logged_channel(spark):
    # Weaver.getSnapshot' parity (Weaver.hs:156-160): snapshot + logs.
    from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
    from net_spider_spark.snapshot import (
        BOUNDARY_MARK,
        Query,
        get_snapshot,
        get_snapshot_logged,
    )

    findings = findings_to_df(spark, [
        FoundNode("a", 1000, [FoundLink("b", "to_target", {})]),
        FoundNode("a", 2000, [FoundLink("b", "to_target", {}),
                              FoundLink("c", "to_target", {})]),
        FoundNode("b", 1500, [FoundLink("a", "to_subject", {})]),
    ])
    q = Query(boundary_mode=BOUNDARY_MARK)
    nodes, links, logs = get_snapshot_logged(findings, q)
    # same result as the unlogged call
    n0, l0 = get_snapshot(findings, q)
    assert sorted(r["node_id"] for r in nodes.collect()) == \
        sorted(r["node_id"] for r in n0.collect())
    assert links.count() == l0.count()
    # the three channels: policy, boundary accounting, unify groups
    assert any("found-node policy: overwrite" in m for m in logs)
    assert any("boundary (mode=mark): 2 visited nodes, 1 observed-only"
               in m for m in logs)
    assert any("unify: 2 link groups from 3 samples" in m for m in logs)

    # traversal mode logs the visited/boundary split instead
    _, _, logs2 = get_snapshot_logged(
        findings, Query(starts_from=["a"], max_hops=1))
    assert any(m.startswith("traverse: starts_from=['a'] max_hops=1")
               for m in logs2)


@pytest.mark.parametrize("policy,max_jobs", [("overwrite", 9), ("append", 7)])
def test_whole_graph_snapshot_job_count(spark, policy, max_jobs):
    # At small scale a snapshot costs Spark jobs, not data. The node
    # table is one aggregate, the overwrite policy one argmax, and no
    # intermediate is cached for a second consumer to re-fill, so a
    # whole-graph snapshot of an 8-partition history, collected as
    # nodes then links, stays within a fixed job budget — and agrees
    # with the spec.
    from conftest import spark_jobs
    from net_spider_spark.model import FINDINGS_SCHEMA
    from net_spider_spark.pyweaver import PyFinding, PyLink
    from net_spider_spark.pyweaver import snapshot as py_snapshot

    states = ["to_target", "to_subject", "bidirectional", "unused"]
    rows = [
        (
            i, f"n{i % 40}", 1000 + (i * 37) % 500, None, None, None,
            {"k": str(i)},
            [(f"n{(i * 7 + j) % 45}", states[(i + j) % 4], {}) for j in range(3)],
        )
        for i in range(400)
    ]
    findings = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 8), FINDINGS_SCHEMA
    )
    want_nodes, want_links = py_snapshot(
        [
            PyFinding(r[0], r[1], r[2], tuple(PyLink(t, s) for t, s, _ in r[7]))
            for r in rows
        ],
        policy=policy,
    )

    jobs = spark_jobs(spark)
    nodes, links = get_snapshot(findings, Query(found_node_policy=policy))
    got_nodes = {r["node_id"]: r["node_ts"] for r in nodes.collect()}
    got_links = {
        (r["source_node"], r["dest_node"], r["is_directed"], r["link_ts"])
        for r in links.collect()
    }
    used = jobs()

    assert got_nodes == {n: ts for n, (_, ts, _) in want_nodes.items()}
    assert got_links == want_links
    assert used <= max_jobs, f"{policy}: {jobs.describe()}"
