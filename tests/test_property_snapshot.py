"""Property-based engine-vs-specification testing.

Hypothesis generates random findings tables; the distributed pipeline
(snapshot.get_snapshot) must agree exactly with the pure-Python
executable spec (pyweaver.snapshot) — the two-implementation strategy
the reference applies between Weaver and the live Gremlin server,
extended with randomized inputs the reference never had.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
from net_spider_spark.interval import Interval
from net_spider_spark.pyweaver import PyFinding, PyLink, snapshot as py_snapshot
from net_spider_spark.snapshot import (
    BOUNDARY_MARK,
    BOUNDARY_VISIT,
    Query,
    get_snapshot,
)

NODE_IDS = ["a", "b", "c", "d", "e"]
STATES = ["unused", "to_target", "to_subject", "bidirectional"]

link_st = st.builds(
    PyLink,
    target=st.sampled_from(NODE_IDS),
    state=st.sampled_from(STATES),
)

finding_st = st.builds(
    lambda subject, found_at, links: (subject, found_at, links),
    subject=st.sampled_from(NODE_IDS),
    found_at=st.integers(min_value=0, max_value=20),
    links=st.lists(link_st, max_size=3),
)

def _numbered(fs):
    # the finding_id as a node attribute makes the node-state winner
    # visible in the result, not just its timestamp
    return [
        PyFinding(i, s, ts, tuple(ls), attrs=(("fid", str(i)),))
        for i, (s, ts, ls) in enumerate(fs)
    ]


findings_st = st.lists(finding_st, min_size=0, max_size=8).map(_numbered)

# Few distinct timestamps: most subjects see several findings at the
# same found_at, so the winner is decided by finding_id alone.
tied_findings_st = st.lists(
    st.tuples(
        st.sampled_from(NODE_IDS),
        st.sampled_from([3, 7]),
        st.lists(link_st, max_size=3),
    ),
    min_size=0,
    max_size=10,
).map(_numbered)


def run_engine(spark, pyfindings, **query_kw):
    fns = [
        FoundNode(
            f.subject,
            f.found_at,
            [FoundLink(l.target, l.state) for l in f.links],
            node_attrs=dict(f.attrs),
        )
        for f in pyfindings
    ]
    df = findings_to_df(spark, fns)
    nodes_df, links_df = get_snapshot(df, Query(**query_kw))
    node_rows = nodes_df.collect()
    link_rows = [
        (r["source_node"], r["dest_node"], r["is_directed"], r["link_ts"])
        for r in links_df.collect()
    ]
    nodes = {
        r["node_id"]: (
            r["is_on_boundary"],
            r["node_ts"],
            None if r["node_attrs"] is None
            else tuple(sorted(r["node_attrs"].items())),
        )
        for r in node_rows
    }
    links = set(link_rows)
    # the dict and set above would hide duplicate rows
    assert len(nodes) == len(node_rows), f"duplicate node rows: {node_rows}"
    assert len(links) == len(link_rows), f"duplicate link rows: {link_rows}"
    return nodes, links


def check(spark, pyfindings, policy, interval=None, starts_from=None,
          max_hops=None, boundary_mode=BOUNDARY_VISIT, extra_visited=()):
    exp_nodes, exp_links = py_snapshot(
        pyfindings, policy=policy, interval=interval,
        starts_from=starts_from, max_hops=max_hops,
    )
    want_nodes = dict(exp_nodes)
    # Whole-graph marks (Weaver.hs:93-96, 120-129), which the spec
    # leaves to the caller: an extra visited node joins the graph
    # without a state, and under BOUNDARY_MARK a node is on the
    # boundary exactly when it has no kept finding and is not marked.
    for n in extra_visited:
        want_nodes.setdefault(n, (False, None, None))
    if boundary_mode == BOUNDARY_MARK:
        want_nodes = {
            n: (ts is None and n not in extra_visited, ts, attrs)
            for n, (_, ts, attrs) in want_nodes.items()
        }
    got_nodes, got_links = run_engine(
        spark,
        pyfindings,
        found_node_policy=policy,
        time_interval=interval or Interval.always(),
        starts_from=starts_from,
        max_hops=max_hops,
        boundary_mode=boundary_mode,
        extra_visited=extra_visited,
    )
    assert got_nodes == want_nodes, f"nodes differ for {pyfindings}"
    assert got_links == exp_links, f"links differ for {pyfindings}"


# A modest number of examples: each runs several Spark jobs. deadline
# disabled (Spark latency), shrinking still works on failure.
_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(fs=findings_st, policy=st.sampled_from(["overwrite", "append"]))
@_settings
def test_whole_graph_matches_spec(spark, fs, policy):
    check(spark, fs, policy)


@given(fs=findings_st, policy=st.sampled_from(["overwrite", "append"]))
@_settings
def test_whole_graph_boundary_mark_matches_spec(spark, fs, policy):
    check(spark, fs, policy, boundary_mode=BOUNDARY_MARK)


@given(
    fs=findings_st,
    policy=st.sampled_from(["overwrite", "append"]),
    mode=st.sampled_from([BOUNDARY_VISIT, BOUNDARY_MARK]),
    extra=st.lists(st.sampled_from(NODE_IDS + ["zz"]), max_size=2, unique=True),
)
@_settings
def test_extra_visited_matches_spec(spark, fs, policy, mode, extra):
    check(spark, fs, policy, boundary_mode=mode, extra_visited=extra)


@given(
    fs=tied_findings_st,
    policy=st.sampled_from(["overwrite", "append"]),
    mode=st.sampled_from([BOUNDARY_VISIT, BOUNDARY_MARK]),
)
@_settings
def test_tied_timestamps_match_spec(spark, fs, policy, mode):
    """Equal found_at values with distinct finding_ids: the node state
    (seen through its attributes) and the link winner are decided by
    finding_id (Weaver.hs:84-88)."""
    check(spark, fs, policy, boundary_mode=mode)


@given(
    fs=findings_st,
    policy=st.sampled_from(["overwrite", "append"]),
    lo=st.integers(min_value=0, max_value=20),
    width=st.integers(min_value=0, max_value=15),
)
@_settings
def test_interval_matches_spec(spark, fs, policy, lo, width):
    check(spark, fs, policy, interval=Interval(lo, lo + width))


@given(
    fs=findings_st,
    starts=st.lists(st.sampled_from(NODE_IDS + ["zz"]), min_size=1, max_size=2),
)
@_settings
def test_traversal_matches_spec(spark, fs, starts):
    check(spark, fs, "overwrite", starts_from=starts)


@given(
    fs=findings_st,
    starts=st.lists(st.sampled_from(NODE_IDS), min_size=1, max_size=2),
    max_hops=st.integers(min_value=0, max_value=3),
)
@_settings
def test_bounded_traversal_matches_spec(spark, fs, starts, max_hops):
    """max_hops (the reference's unimplemented Spider.hs:254 TODO,
    implemented here): nodes past the bound appear as BOUNDARY nodes
    (observed, not visited) so the output graph stays closed over its
    links — engine vs spec across random graphs and bounds."""
    check(spark, fs, "overwrite", starts_from=starts, max_hops=max_hops)


@given(
    fs=findings_st,
    policy=st.sampled_from(["overwrite", "append"]),
    grace=st.integers(min_value=0, max_value=10),
    exempt_subject=st.booleans(),
)
@_settings
def test_custom_negates_matches_spec(spark, fs, policy, grace, exempt_subject):
    """A USER-SUPPLIED negates rule (not the default strict-< of
    Unify.hs:213-217) through engine vs spec: negate when an endpoint's
    node timestamp is newer than the link's by MORE than a grace
    period, optionally without the reporter-subject exemption. Fuzzing
    grace and the exemption covers a family of custom rules including
    ones stricter and laxer than the default."""
    from pyspark.sql import functions as F

    from net_spider_spark.unify import UnifyConfig

    def py_rule(end, end_ts, subject, ts):
        if end_ts is None:
            return False
        if exempt_subject and subject == end:
            return False
        return ts + grace < end_ts

    def engine_rule(node_id, node_ts):
        cond = node_ts.isNotNull() & (
            F.col("found_at") + F.lit(grace) < node_ts
        )
        if exempt_subject:
            cond = cond & (F.col("subject_node") != node_id)
        return cond

    exp_nodes, exp_links = py_snapshot(fs, policy=policy, negates=py_rule)
    got_nodes, got_links = run_engine(
        spark,
        fs,
        found_node_policy=policy,
        unify=UnifyConfig(negates=engine_rule),
    )
    assert got_nodes == exp_nodes, (
        f"nodes differ for {fs} grace={grace} exempt={exempt_subject}"
    )
    assert got_links == exp_links, (
        f"links differ for {fs} grace={grace} exempt={exempt_subject}"
    )


def test_hub_skew_shape(spark):
    """A mega-hub (every node observes the same target) must neither
    break correctness nor stall: the pair groups stay per-counterpart,
    so a popular node does not create one giant group."""
    from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
    from net_spider_spark.snapshot import Query, get_snapshot

    fns = [
        FoundNode(f"s{i}", 1000 + i, [FoundLink("hub", "to_target")])
        for i in range(500)
    ]
    fns.append(FoundNode("hub", 5000, []))  # hub reports no links
    nodes, links = get_snapshot(findings_to_df(spark, fns), Query())
    assert nodes.count() == 501
    # hub's newer empty observation negates every spoke link
    assert links.count() == 0
    # negation disabled -> all 500 spoke links survive
    from net_spider_spark.unify import UnifyConfig, no_negation

    _, links2 = get_snapshot(
        findings_to_df(spark, fns), Query(unify=UnifyConfig(negates=no_negation))
    )
    assert links2.count() == 500
