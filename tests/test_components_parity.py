"""Local union-find vs distributed label-propagation parity."""

import random

from net_spider_spark.graph.components import connected_components


def test_components_local_vs_distributed(spark):
    rng = random.Random(11)
    # random graph: 40 nodes, 50 edges -> several components
    edges = [
        (f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(50)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    local = sorted(
        (r["node_id"], r["component"]) for r in connected_components(df).collect()
    )
    dist = sorted(
        (r["node_id"], r["component"])
        for r in connected_components(df, local_threshold=0).collect()
    )
    assert local == dist
    assert len(local) > 0


def test_distributed_path_graph_converges_logarithmically(spark):
    # A 200-node path is the worst case for pure min-label propagation
    # (~200 rounds); pointer halving must converge it within ~log2
    # rounds. max_iter=16 would fail without the halving step.
    from net_spider_spark.graph.components import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(200)],
        "src string, dst string",
    )
    got = connected_components(edges, max_iter=16, local_threshold=0)
    comps = {r["component"] for r in got.collect()}
    assert comps == {"n000"}  # single component, min-ID label


def test_symmetric_closure_is_single_subtree(spark):
    # The undirected closure must plan as ONE two-way explode
    # (Generate/inline) over the edge subtree, never a self-union: a
    # union's two children are separate subtrees, so every action
    # upstream of components re-executed the whole edge-derivation
    # chain once per direction (measured: dedup_representatives ran
    # its candidate+verify pipeline twice).
    from net_spider_spark.graph.components import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    df = connected_components(edges, local_threshold=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
