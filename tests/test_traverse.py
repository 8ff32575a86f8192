"""BFS reachability: local fast path vs distributed loop parity."""

from net_spider_spark.traverse import reachable_nodes


EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),  # cycle
    ("b", "e"),
    ("x", "y"),  # disconnected component
]


def _run(spark, starts, max_hops=None, threshold=None):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    starts_df = spark.createDataFrame([(s,) for s in starts], "node_id string")
    kw = {"max_hops": max_hops}
    if threshold is not None:
        kw["local_threshold"] = threshold
    return sorted(
        r["node_id"] for r in reachable_nodes(edges, starts_df, **kw).collect()
    )


def test_local_and_distributed_agree(spark):
    for starts in (["a"], ["x"], ["a", "x"], ["e"]):
        local = _run(spark, starts)
        dist = _run(spark, starts, threshold=0)
        assert local == dist, f"starts={starts}"


def test_reachability_cycle(spark):
    assert _run(spark, ["a"]) == ["a", "b", "c", "d", "e"]


def test_disconnected(spark):
    assert _run(spark, ["x"]) == ["x", "y"]


def test_max_hops(spark):
    assert _run(spark, ["a"], max_hops=1) == ["a", "b"]
    assert _run(spark, ["a"], max_hops=1, threshold=0) == ["a", "b"]
    assert _run(spark, ["a"], max_hops=2) == ["a", "b", "c", "e"]
    assert _run(spark, ["a"], max_hops=2, threshold=0) == ["a", "b", "c", "e"]


def test_isolated_start(spark):
    # start with no outgoing edges: still returned
    assert _run(spark, ["e"]) == ["e"]


def _run_levels(spark, starts, max_hops=None, threshold=None):
    from net_spider_spark.traverse import reachable_with_levels

    edges = spark.createDataFrame(EDGES, "src string, dst string")
    starts_df = spark.createDataFrame([(s,) for s in starts], "node_id string")
    kw = {"max_hops": max_hops}
    if threshold is not None:
        kw["local_threshold"] = threshold
    return {
        r["node_id"]: r["level"]
        for r in reachable_with_levels(edges, starts_df, **kw).collect()
    }


def test_levels_from_a(spark):
    expect = {"a": 0, "b": 1, "c": 2, "e": 2, "d": 3}
    assert _run_levels(spark, ["a"]) == expect
    assert _run_levels(spark, ["a"], threshold=0) == expect


def test_levels_multi_start_takes_nearest(spark):
    got = _run_levels(spark, ["a", "c"])
    assert got["c"] == 0 and got["d"] == 1 and got["b"] == 1
    assert _run_levels(spark, ["a", "c"], threshold=0) == got


def test_levels_max_hops(spark):
    expect = {"a": 0, "b": 1}
    assert _run_levels(spark, ["a"], max_hops=1) == expect
    assert _run_levels(spark, ["a"], max_hops=1, threshold=0) == expect


def test_byte_budget_is_read_per_call(spark, monkeypatch):
    # The BFS guard reads sizing.DRIVER_LOCAL_MAX_BYTES when it runs,
    # like the export guard: a budget lowered at run time sends even a
    # six-edge BFS down the distributed path.
    from net_spider_spark import sizing

    monkeypatch.setattr(sizing, "DRIVER_LOCAL_MAX_BYTES", 0)
    n_log = len(sizing.DECISION_LOG)
    assert _run(spark, ["a"]) == ["a", "b", "c", "d", "e"]
    (bfs,) = [d for d in sizing.DECISION_LOG[n_log:] if d["tag"] == "bfs"]
    assert (bfs["n_rows"], bfs["local"]) == (len(EDGES), False)
