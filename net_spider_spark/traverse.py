"""Reachability: iterative BFS as a driver-side loop of joins.

Parity target: the reference's unbounded Gremlin ``repeat(...out("finds")
...simplePath()).emit()`` traversal plus its client-side visited set
(``net-spider/src/NetSpider/Spider.hs:209-226,283-289``).

Spark has no recursive CTE, so reachability is a Python ``while`` loop,
one job per BFS level (SURVEY §4). Scale design:

* the edge list is projected to two columns and pre-partitioned by
  ``src`` ONCE (`repartition` + cache) — each level then shuffles only
  the (small) frontier, not the edges;
* the frontier is broadcast when below a threshold, so a level is a
  broadcast-hash join with zero edge movement;
* an anti-join against the visited set implements ``simplePath``/dedup;
* ``localCheckpoint`` truncates the growing lineage every level
  (without it, plan size grows linearly with depth and the driver
  dominates runtime);
* unlike the reference, which loops start nodes sequentially
  (Spider.hs:179-185), ALL start nodes ride in one frontier — a
  whole-graph BFS is the same cost as a single-source one.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from net_spider_spark.sizing import count_and_fits
from net_spider_spark.reliability import (
    materialize as _materialize,
    materialize_lazy as _materialize_lazy,
)

# Below this many frontier rows, broadcast it explicitly.
_BROADCAST_FRONTIER_MAX = 1_000_000


# Edge sets at or below this size take the driver-local fast path: one
# collect, zero iterative jobs. An N-level BFS otherwise costs N Spark
# jobs of pure scheduling overhead when the (deduplicated, two-column)
# edge projection is tiny — the common case for snapshot queries whose
# *history* is huge but whose *graph* is not.
_LOCAL_BFS_MAX_EDGES = 2_000_000


def reachable_nodes(
    edges: DataFrame,
    starts: DataFrame,
    max_hops: Optional[int] = None,
    local_threshold: int = _LOCAL_BFS_MAX_EDGES,
) -> DataFrame:
    """All nodes reachable from ``starts`` over directed ``edges``.

    ``edges``: DataFrame(src string, dst string); ``starts``:
    DataFrame(node_id string). Returns DataFrame(node_id string),
    including the start nodes themselves.

    The reference leaves a max-step bound as an unimplemented TODO
    (Spider.hs:254); ``max_hops`` implements it.
    """
    return reachable_with_levels(
        edges, starts, max_hops=max_hops, local_threshold=local_threshold
    ).select("node_id")


def reachable_with_levels(
    edges: DataFrame,
    starts: DataFrame,
    max_hops: Optional[int] = None,
    local_threshold: int = _LOCAL_BFS_MAX_EDGES,
) -> DataFrame:
    """BFS like :func:`reachable_nodes` but returning
    DataFrame(node_id string, level long) — the hop distance from the
    nearest start node (starts are level 0).

    Driver-local fast path for small deduplicated edge projections
    (one ``bfs``-tagged :data:`sizing.DECISION_LOG` entry per call
    records the choice), else one broadcast-join job per level with
    anti-join dedup and periodic lineage truncation. This is also the
    scale path for depth analytics (``analyze.tree_depth``) — no
    unguarded edge collect.
    """
    spark = edges.sparkSession
    edges = (
        edges.select(F.col("src"), F.col("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .persist()
    )
    _, local = count_and_fits(edges, local_threshold, tag="bfs")
    if local:
        try:
            adj: dict[str, list[str]] = {}
            for row in edges.collect():
                adj.setdefault(row["src"], []).append(row["dst"])
        finally:
            edges.unpersist()
        levels = {
            r["node_id"]: 0
            for r in starts.select("node_id").distinct().collect()
        }
        frontier = set(levels)
        hops = 0
        while frontier and (max_hops is None or hops < max_hops):
            hops += 1
            nxt = {
                dst
                for src in frontier
                for dst in adj.get(src, ())
                if dst not in levels
            }
            for n in nxt:
                levels[n] = hops
            frontier = nxt
        if not levels:
            return spark.createDataFrame([], "node_id string, level long")
        return spark.createDataFrame(
            sorted(levels.items()), "node_id string, level long"
        )

    # One job per level: the new frontier is lazily local-checkpointed and
    # its count() both materializes it (truncating lineage) and drives the
    # termination test. The visited set stays a lazy union of checkpointed
    # levels (each is small and cached); it is re-checkpointed only every
    # few levels to bound plan growth.
    visited = (
        starts.select("node_id")
        .distinct()
        .withColumn("level", F.lit(0).cast("long"))
        .transform(_materialize)
    )
    frontier = visited.select("node_id")
    n_frontier = frontier.count()
    hops = 0
    try:
        while n_frontier > 0:
            if max_hops is not None and hops >= max_hops:
                break
            hops += 1
            f = (
                F.broadcast(frontier)
                if n_frontier <= _BROADCAST_FRONTIER_MAX
                else frontier
            )
            nxt = (
                edges.join(f, edges.src == f.node_id, "inner")
                .select(F.col("dst").alias("node_id"))
                .distinct()
                .join(visited.select("node_id"), "node_id", "left_anti")
                .withColumn("level", F.lit(hops).cast("long"))
                .transform(_materialize_lazy)
            )
            n_frontier = nxt.count()
            if n_frontier == 0:
                break
            visited = visited.unionByName(nxt)
            if hops % 8 == 7:
                visited = visited.transform(_materialize)
            frontier = nxt.select("node_id")
    finally:
        edges.unpersist()
    return visited
