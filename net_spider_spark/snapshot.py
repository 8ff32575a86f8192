"""The snapshot query: reconstruct the graph state at a point/interval
in the past from the append-only findings table.

Parity target: ``getSnapshot`` (``net-spider/src/NetSpider/Spider.hs:175-185``)
and its pure specification ``Weaver.getSnapshot'``
(``net-spider/src/NetSpider/Weaver.hs:156-203``). Pipeline:

    findings
      |> time-interval filter          (F1; Catalyst pushdown)
      |> found-node policy             (A1/A2; keep_argmax: one narrow
      |                                 max(struct) aggregate + semi-join)
      |> [starts_from] BFS restriction (J4/J5; driver loop, traverse.py)
      |> node table                    (one generator pass + one groupBy:
      |                                 latest state, visited, boundary)
      |> explode link samples          (J2)
      |> unify per undirected pair     (A3-A6; unify.py)
      |> negation                      (J8; two equi-joins on node states)
      |> direction resolution          (C8; CASE expressions)
      -> (snapshot_nodes, snapshot_links)

Everything on the default path is built-in DataFrame ops — one Spark
job graph, no Python in the row loop. Scale notes per stage are inline.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from net_spider_spark.findings import explode_link_samples
from net_spider_spark.interval import Interval
from net_spider_spark.reliability import materialize_lazy
from net_spider_spark.traverse import reachable_nodes
from net_spider_spark.unify import UnifyConfig, unify_to_one

POLICY_OVERWRITE = "overwrite"
POLICY_APPEND = "append"

# Weaver-mode boundary handling (Weaver.hs:120-134): 'mark' reports
# target-only nodes with is_on_boundary=true (raw Weaver); 'visit'
# treats them as visited (visitAllBoundaryNodes — also what the
# reference's unbounded server traversal produces, since `out("finds")`
# reaches every target).
BOUNDARY_MARK = "mark"
BOUNDARY_VISIT = "visit"


@dataclass
class Query:
    """Snapshot query parameters (``NetSpider/Query.hs:47-101``).

    ``starts_from=None`` means whole-graph (Weaver semantics,
    README.md:316-321); a node list bounds the result to what is
    reachable from those nodes through kept findings.
    """

    starts_from: Optional[Sequence[str]] = None
    time_interval: Interval = field(default_factory=Interval.always)
    found_node_policy: str = POLICY_OVERWRITE
    unify: UnifyConfig = field(default_factory=unify_to_one)
    boundary_mode: str = BOUNDARY_VISIT
    max_hops: Optional[int] = None
    # Extra node IDs to treat as visited even without findings
    # (markAsVisited, Weaver.hs:93-96). Whole-graph mode only.
    extra_visited: Sequence[str] = ()


_SAMPLE_COLS = [
    "finding_id",
    "link_pos",
    "subject_node",
    "target_node",
    "link_state",
    "found_at",
    "link_attrs",
]


def keep_argmax(
    df: DataFrame, group_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Keep each group's row(s) maximal under the lexicographic order
    of ``order_cols`` — the engine's scalable argmax. Every row tied on
    the full key is kept.

    Shape: one ``max(struct(order_cols))`` aggregate over the NARROW
    ``group_cols + order_cols`` projection, then one left-semi join of
    the full rows against the winner keys. Only the narrow key rows
    reach the aggregate, so the wide rows (nested link arrays, attr
    maps) are never sorted — sorting the full history by key is exactly
    what must not happen at 100 TB. The winner-key table is one row per
    group (node/pair count << row count), so the semi-join broadcasts
    under AQE at typical scales. Null order values lose to non-null
    ones and never match the semi-join, as with per-column ``max``.
    """
    keys = (
        df.select(*group_cols, F.struct(*order_cols).alias("_k"))
        .groupBy(*group_cols)
        .agg(F.max("_k").alias("_k"))
        .select(*group_cols, *[F.col(f"_k.{c}").alias(c) for c in order_cols])
    )
    return df.join(keys, on=group_cols + order_cols, how="left_semi")


def latest_findings_per_node(findings: DataFrame) -> DataFrame:
    """policyOverwrite (A1): keep only each subject's latest finding
    (ties broken by ingest order = finding_id, Weaver.hs:84-88).

    Shape: :func:`keep_argmax`. Its aggregate reads only (subject,
    found_at, finding_id) and its winner-key table is one row per
    *node*, which in this domain (network nodes, not events) always
    broadcasts; a ``max_by`` over the full rows buffers full-width rows
    map-side, which loses when findings carry large attr maps / many
    links. Measured at 6.4M findings / 1.5k subjects on local[32] with
    FULL materialization (xxhash64(to_json) over every column — a bare
    ``count()`` prunes the payload and flatters ``max_by``): the
    earlier per-column argmax rounds 10-18 s, full-row
    ``max_by(struct)`` 8-21 s, window ``row_number`` 17-20 s.
    """
    return keep_argmax(findings, ["subject_node"], ["found_at", "finding_id"])


def snapshot_timeline(
    findings: DataFrame, timestamps: Sequence[int]
) -> DataFrame:
    """Latest-per-node state as of each of K timeline points — the
    reference's interval query with upper bound t (``Interval.hs``
    upper-end semantics, ``Spider.hs`` timeInterval) evaluated at every
    t at once, i.e. an as-of join of the node history against a
    timeline. One call answers "how did the network evolve?" instead of
    K full snapshot runs over the same history.

    Returns (ts, node_id, node_ts, finding_id): for each timeline
    timestamp and each node observed at or before it, the node's
    then-latest finding.

    Scale shape: the K timeline points broadcast into a nested-loop
    theta-join (``found_at <= ts``), expanding the history by at most
    K, then one :func:`keep_argmax` per (ts, node). K is small (a
    report axis, not data); the history is never self-joined and never
    sorted. For K in the thousands, bucket the points and range-join
    instead.
    """
    spark = findings.sparkSession
    tl = spark.createDataFrame([(int(t),) for t in timestamps], "ts bigint")
    joined = findings.join(F.broadcast(tl), F.col("found_at") <= F.col("ts"))
    kept = keep_argmax(joined, ["ts", "subject_node"], ["found_at", "finding_id"])
    return kept.select(
        "ts",
        F.col("subject_node").alias("node_id"),
        F.col("found_at").alias("node_ts"),
        "finding_id",
    )


def _node_table(kept: DataFrame, marks: Optional[DataFrame]) -> DataFrame:
    """One row per snapshot node: (node_id, visited, _s) where ``_s`` is
    the node's latest kept state or null (makeSnapshotNode plus the
    visited/boundary sets, Weaver.hs:120-151).

    One generator pass over the kept findings emits a row for the
    subject, carrying its state keyed by (found_at, finding_id), and a
    state-less row per link target; ``marks`` (node_id) adds state-less
    visited rows. One ``groupBy(node_id)`` then takes ``max_by`` of the
    state — null keys never win, so target-only nodes keep a null
    state — and ``bool_or`` of the visited flag. The rows are narrow
    (no neighbor_links array) and the partial aggregate collapses each
    partition to about one row per node before the shuffle. The
    winner's display timezone travels with its timestamp (the reference
    round-trips tz meta-properties into GraphML,
    Graph/Internal.hs:84-98 / GraphML/Writer.hs:252-259).
    """
    rows = kept.selectExpr(
        "posexplode(concat(array(subject_node),"
        " coalesce(neighbor_links.target_node, array()))) AS (_pos, node_id)",
        "struct(found_at, finding_id) AS _k",
        "struct(found_at AS node_ts, node_attrs, tz_offset_min,"
        " tz_summer_only, tz_name) AS _s",
    ).selectExpr(
        "node_id",
        "_pos = 0 AS visited",
        "IF(_pos = 0, _k, NULL) AS _k",
        "IF(_pos = 0, _s, NULL) AS _s",
    )
    if marks is not None:
        rows = rows.unionByName(
            marks.selectExpr("node_id", "true AS visited"),
            allowMissingColumns=True,
        )
    return rows.groupBy("node_id").agg(
        F.expr("max_by(_s, _k)").alias("_s"),
        F.expr("bool_or(visited)").alias("visited"),
    )


def get_snapshot(
    findings: DataFrame, query: Optional[Query] = None,
    log_sink: Optional[list] = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the snapshot query; returns (snapshot_nodes, snapshot_links).

    Output schemas: model.SNAPSHOT_NODE_SCHEMA / SNAPSHOT_LINK_SCHEMA
    (``NetSpider/Snapshot/Internal.hs:34-114``).

    ``log_sink``: optional list; when given, debug log lines in the
    spirit of ``Weaver.getSnapshot'``'s ``[LogLine]`` channel
    (Weaver.hs:156-160, Log.hs) are appended in place — policy choice,
    traversal/boundary accounting, and unify group counts. The counts
    run extra (cheap) actions over the narrow node table and link
    samples, so leave ``log_sink`` off on production paths; unlike the
    reference's per-group lines the unify entry is an aggregate, which
    is the only shape that survives a 10^9-pair graph.
    """
    query = query or Query()
    spark = findings.sparkSession
    traversal = query.starts_from is not None

    def _log(msg: str) -> None:
        if log_sink is not None:
            log_sink.append(msg)

    kept = findings.filter(query.time_interval.predicate(F.col("found_at")))
    overwrite = query.found_node_policy == POLICY_OVERWRITE
    if overwrite:
        kept = latest_findings_per_node(kept)
    elif query.found_node_policy != POLICY_APPEND:
        raise ValueError(f"unknown found_node_policy: {query.found_node_policy}")
    _log(
        f"found-node policy: {query.found_node_policy}"
        + (" (latest finding per subject)" if overwrite else " (full history)")
    )

    # What is materialized, and why. Overwrite: `kept` is the policy's
    # output, one row per subject, read by the node table in both the
    # nodes and the links action and by the link samples; a lazy
    # materialization runs the argmax once, and its blocks are
    # RDD-owned (freed with the returned frames, no CacheManager
    # entry). Append: `kept` IS the filtered history and nothing
    # history-sized is kept: each consumer re-derives its narrow
    # projection off the column-pruned scan. Measured at 51M findings,
    # caching the exploded samples cost 110 s (fill + GC + slow heap
    # reads) against 15 s recomputing them per consumer. Traversal mode
    # persists the samples: the BFS loop reads them once per level.
    if overwrite:
        kept = materialize_lazy(kept)
    samples = explode_link_samples(kept)
    marks = None
    if traversal:
        from pyspark import StorageLevel

        samples = samples.persist(StorageLevel.MEMORY_AND_DISK)
        # The traversal can only begin at nodes that exist in the history
        # graph at all — identity vertices persist outside the query
        # interval (getOrMakeNode, Spider.hs:146-158), so existence is
        # checked against the FULL findings table, not the kept subset.
        starts_df = spark.createDataFrame(
            [(str(s),) for s in query.starts_from], "node_id string"
        )
        universe = (
            findings.select(F.col("subject_node").alias("node_id"))
            .unionByName(
                findings.select(
                    F.explode("neighbor_links.target_node").alias("node_id")
                )
            )
            .distinct()
        )
        starts_df = starts_df.join(universe, "node_id", "left_semi")
        edges = samples.select(
            F.col("subject_node").alias("src"), F.col("target_node").alias("dst")
        )
        marks = reachable_nodes(edges, starts_df, max_hops=query.max_hops)
        # Only visited subjects contribute states and links. With an
        # unbounded traversal every link target is itself visited;
        # under max_hops, targets past the bound are boundary nodes
        # (observed but not visited, Weaver.hs:120-129) — they still
        # appear so the output graph is closed over its links.
        on_visited = marks.withColumnRenamed("node_id", "subject_node")
        kept = kept.join(on_visited, "subject_node", "left_semi")
        samples = samples.join(on_visited, "subject_node", "left_semi")
    elif query.extra_visited:
        marks = spark.createDataFrame(
            [(str(s),) for s in query.extra_visited], "node_id string"
        )

    # Whole-graph (Weaver) mode: visited = subjects (+ explicit marks),
    # boundary = link targets never visited (Weaver.hs:120-129), marked
    # only under BOUNDARY_MARK. Traversal mode always marks them.
    table = _node_table(kept, marks)
    if log_sink is not None:
        n_visited, n_boundary = table.agg(
            F.expr("count_if(visited)"), F.expr("count_if(NOT visited)")
        ).first()
        if traversal:
            _log(
                f"traverse: starts_from={sorted(str(s) for s in query.starts_from)}"
                f" max_hops={query.max_hops}:"
                f" visited {n_visited} nodes,"
                f" {n_boundary} past-bound targets on boundary"
            )
        else:
            _log(
                f"boundary (mode={query.boundary_mode}):"
                f" {n_visited} visited nodes,"
                f" {n_boundary} observed-only targets"
                + (" marked on boundary"
                   if query.boundary_mode == BOUNDARY_MARK
                   else " included unmarked")
            )
    mark = traversal or query.boundary_mode == BOUNDARY_MARK
    nodes = table.selectExpr(
        "node_id",
        "NOT visited AS is_on_boundary" if mark else "false AS is_on_boundary",
        "_s.node_ts AS node_ts",
        "_s.node_attrs AS node_attrs",
        "_s.tz_offset_min AS tz_offset_min",
        "_s.tz_summer_only AS tz_summer_only",
        "_s.tz_name AS tz_name",
    )

    # --- unify ----------------------------------------------------------
    if log_sink is not None:
        # Aggregate twin of Weaver.hs:186-191's per-group "Unify link
        # [a]-[b]: from N samples" lines: total samples and distinct
        # unify groups.
        n_samples = samples.count()
        n_groups = (
            samples.select(
                F.least("subject_node", "target_node"),
                F.greatest("subject_node", "target_node"),
            )
            .distinct()
            .count()
        )
        _log(f"unify: {n_groups} link groups from {n_samples} samples")
    links = _unify_links(samples, nodes, query.unify)
    return nodes, links


def get_snapshot_logged(
    findings: DataFrame, query: Optional[Query] = None
) -> tuple[DataFrame, DataFrame, list]:
    """``Weaver.getSnapshot'`` (Weaver.hs:156-160): the snapshot plus
    its debug-log channel. Returns (nodes, links, logs) where ``logs``
    is a list of strings."""
    logs: list = []
    nodes, links = get_snapshot(findings, query, log_sink=logs)
    return nodes, links, logs


def _unify_links(
    samples: DataFrame,
    nodes: DataFrame,
    conf: UnifyConfig,
) -> DataFrame:
    """Steps 1-3 of unifyStd (Unify.hs:169-193) + direction resolution
    (Weaver.hs:190-203)."""
    # Swap-insensitive link identity (Pair.hs:17-30). The pair columns
    # are the shuffle key; the un-swapped subject/target stay inside the
    # sample struct because output direction depends on them.
    # One selectExpr instead of three withColumn (each withColumn
    # re-analyzes the whole accumulated plan and pays its own py4j
    # round-trips); the custom sub_id hook still receives/returns a
    # Column, mixed into the same single select.
    pair_exprs = [
        "*",
        "least(subject_node, target_node) AS p1",
        "greatest(subject_node, target_node) AS p2",
    ]
    if conf.sub_id is not None:
        with_pair = samples.select(
            "*",
            F.expr(pair_exprs[1]),
            F.expr(pair_exprs[2]),
            conf.sub_id().alias("sub_id"),
        )
    else:
        with_pair = samples.selectExpr(*pair_exprs, "'' AS sub_id")

    if conf.merge_samples is not None:
        # Custom merge: Arrow-batched grouped-map per (pair, sub_id).
        if conf.merge_output_schema is None:
            raise ValueError("merge_output_schema required with merge_samples")
        merged = (
            with_pair.groupBy("p1", "p2", "sub_id")
            .applyInPandas(conf.merge_samples, schema=conf.merge_output_schema)
        )
    else:
        # Default merge = latestLinkSample over both endpoints' samples,
        # deterministic tie-break on (found_at, finding_id, link_pos).
        # Samples are NARROW rows (no nested arrays), so a single
        # max_by aggregate — sort-based because of the attrs map, but
        # one shuffle and map-side partial — wins here. Measured at
        # both 6.4M and 51M samples: a max(found_at) hash-agg +
        # semi-join prefilter before the max_by added ~17 s at 6.4M
        # and paid for itself nowhere — the partial aggregate already
        # collapses each map partition to ~one row per pair before the
        # shuffle. The argmax-join shape is reserved for the wide
        # nested findings (latest_findings_per_node), where sorting
        # full rows is the 100 TB hazard.
        merged = (
            with_pair.groupBy("p1", "p2", "sub_id")
            .agg(
                F.expr(
                    "max_by(struct(" + ", ".join(_SAMPLE_COLS) + "), "
                    "struct(found_at, finding_id, link_pos))"
                ).alias("_w")
            )
            .selectExpr(
                "p1", "p2", *[f"_w.{c} AS {c}" for c in _SAMPLE_COLS]
            )
        )

    if conf.winner_transform is not None:
        for name, col in conf.winner_transform().items():
            merged = merged.withColumn(name, col)

    return negate_and_resolve(merged, nodes, conf)


def negate_and_resolve(
    merged: DataFrame,
    nodes: DataFrame,
    conf: Optional[UnifyConfig] = None,
) -> DataFrame:
    """The unify tail: negation + direction resolution over MERGED link
    samples (p1/p2 pair keys + subject/target/state/found_at/attrs).

    Shared by the batch pipeline and the incremental path: apply it to
    the contents of the stream-maintained views
    (``streaming.ingest.stream_latest_per_node`` renamed to
    (node_id, node_ts) + ``stream_latest_link_per_pair`` /
    ``stream_unified_link_per_pair``) to complete them into the exact
    snapshot link rows the batch query produces on full replay.
    """
    if conf is None:
        conf = unify_to_one()
    # Negation (Unify.hs:184-193): check the merged sample against BOTH
    # endpoints' snapshot-node timestamps. Node states are a per-node
    # aggregate — orders of magnitude smaller than the sample table — so
    # these two equi-joins broadcast under AQE at typical scales. Both
    # read the same node subtree, which the plan computes once and
    # reuses (exchange reuse), so nothing is persisted here.
    node_ts = nodes.selectExpr("node_id", "node_ts AS _end_ts")
    for end in ("p1", "p2"):
        nt = node_ts.selectExpr(
            f"node_id AS _{end}_id", f"_end_ts AS _{end}_ts"
        )
        merged = merged.join(nt, merged[end] == nt[f"_{end}_id"], "left")
        merged = merged.filter(
            ~conf.negates(F.col(f"_{end}_id"), F.col(f"_{end}_ts"))
        ).drop(f"_{end}_id", f"_{end}_ts")

    # Direction resolution (Weaver.hs:190-203; C8).
    resolved = merged.where("link_state != 'unused'").selectExpr(
        "CASE WHEN link_state = 'to_subject' THEN target_node"
        " ELSE subject_node END AS source_node",
        "CASE WHEN link_state = 'to_subject' THEN subject_node"
        " ELSE target_node END AS dest_node",
        "(link_state != 'bidirectional') AS is_directed",
        "found_at AS link_ts",
        "link_attrs",
    )
    return resolved


def get_snapshot_simple(
    findings: DataFrame, starts_from: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """``getSnapshotSimple`` (Spider.hs:161-173): defaults everywhere,
    just start nodes. The reference warns it is for small graphs only —
    here it is the same scalable pipeline as the full query."""
    return get_snapshot(findings, Query(starts_from=list(starts_from)))


def snapshot_to_json(nodes: DataFrame, links: DataFrame) -> tuple[DataFrame, DataFrame]:
    """JSON documents per element, snake_case wire format
    (SnapshotElement ToJSON, Snapshot/Internal.hs:88-137): one column
    ``json`` per DataFrame. JVM-side to_json — exportable at any scale
    via a normal distributed write."""
    # Aeson's generic encoding (no omitNothingFields) writes Nothing as
    # an EXPLICIT null, while the Timestamp object itself omits tz
    # fields when there is no timezone (Timestamp.hs:89-100). Two
    # to_json shapes with ignoreNullFields=false reproduce both rules.
    opts = {"ignoreNullFields": "false"}
    # engine-internal presence markers (model.INTERNAL_ATTR_KEYS, e.g.
    # dao_present) never reach serialized output — the reference's
    # Aeson encoding has no such keys
    from net_spider_spark.model import INTERNAL_ATTR_KEYS

    attrs_t = dict(nodes.dtypes).get("node_attrs", "")
    if attrs_t.startswith("map<"):
        nodes = nodes.withColumn(
            "node_attrs",
            F.when(
                F.col("node_attrs").isNotNull(),
                F.map_filter(
                    F.col("node_attrs"),
                    lambda k, _: ~k.isin(*INTERNAL_ATTR_KEYS),
                ),
            ),
        )
    tz_present = F.col("tz_offset_min").isNotNull()
    node_with_tz = nodes.where(tz_present).select(
        F.to_json(
            F.struct(
                F.col("node_id"),
                F.col("is_on_boundary"),
                F.struct(
                    F.col("node_ts").alias("epoch_time"),
                    F.col("tz_offset_min"),
                    F.col("tz_summer_only"),
                    F.col("tz_name"),
                ).alias("timestamp"),
                F.col("node_attrs"),
            ),
            opts,
        ).alias("json")
    )
    node_no_tz = nodes.where(~tz_present).select(
        F.to_json(
            F.struct(
                F.col("node_id"),
                F.col("is_on_boundary"),
                F.when(
                    F.col("node_ts").isNotNull(),
                    F.struct(F.col("node_ts").alias("epoch_time")),
                ).alias("timestamp"),
                F.col("node_attrs"),
            ),
            opts,
        ).alias("json")
    )
    node_json = node_with_tz.unionByName(node_no_tz)
    link_json = links.select(
        F.to_json(
            F.struct(
                F.col("source_node"),
                F.col("dest_node"),
                F.col("is_directed"),
                F.struct(F.col("link_ts").alias("epoch_time")).alias("timestamp"),
                F.col("link_attrs"),
            ),
            opts,
        ).alias("json")
    )
    return node_json, link_json


#: Wire schemas for snapshot elements (FromJSON SnapshotNode /
#: SnapshotLink, Snapshot/Internal.hs:88-137 + Timestamp.hs:74-85).
_TS_WIRE = T.StructType(
    [
        T.StructField("epoch_time", T.LongType()),
        T.StructField("tz_offset_min", T.IntegerType()),
        T.StructField("tz_summer_only", T.BooleanType()),
        T.StructField("tz_name", T.StringType()),
    ]
)
SNAPSHOT_NODE_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.StringType()),
        T.StructField("is_on_boundary", T.BooleanType()),
        T.StructField("timestamp", _TS_WIRE),
        T.StructField("node_attrs", T.MapType(T.StringType(), T.StringType())),
    ]
)
SNAPSHOT_LINK_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("source_node", T.StringType()),
        T.StructField("dest_node", T.StringType()),
        T.StructField("is_directed", T.BooleanType()),
        T.StructField("timestamp", _TS_WIRE),
        T.StructField("link_attrs", T.MapType(T.StringType(), T.StringType())),
    ]
)


def snapshot_from_json(
    node_json: DataFrame, link_json: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Parse-back of :func:`snapshot_to_json` (FromJSON for snapshot
    elements, Snapshot/Internal.hs:88-137): ``json`` string columns ->
    (nodes, links) in the engine's snapshot schema. from_json is
    JVM-side; a malformed document yields null required fields and is
    dropped."""
    n = node_json.select(
        F.from_json(F.col("json"), SNAPSHOT_NODE_WIRE_SCHEMA).alias("d")
    ).where(F.col("d.node_id").isNotNull())
    nodes = n.select(
        F.col("d.node_id").alias("node_id"),
        F.coalesce(F.col("d.is_on_boundary"), F.lit(False)).alias("is_on_boundary"),
        F.col("d.timestamp.epoch_time").alias("node_ts"),
        F.col("d.node_attrs").alias("node_attrs"),
        F.col("d.timestamp.tz_offset_min").alias("tz_offset_min"),
        F.col("d.timestamp.tz_summer_only").alias("tz_summer_only"),
        F.col("d.timestamp.tz_name").alias("tz_name"),
    )
    l = link_json.select(
        F.from_json(F.col("json"), SNAPSHOT_LINK_WIRE_SCHEMA).alias("d")
    ).where(
        F.col("d.source_node").isNotNull() & F.col("d.dest_node").isNotNull()
    )
    links = l.select(
        F.col("d.source_node").alias("source_node"),
        F.col("d.dest_node").alias("dest_node"),
        F.coalesce(F.col("d.is_directed"), F.lit(True)).alias("is_directed"),
        F.col("d.timestamp.epoch_time").alias("link_ts"),
        F.col("d.link_attrs").alias("link_attrs"),
    )
    return nodes, links


def graph_timestamp(nodes: DataFrame, links: DataFrame):
    """Max timestamp over all nodes and links (``graphTimestamp``,
    NetSpider/Snapshot.hs:40-50). Returns int epoch-ms or None."""
    ts = (
        nodes.select(F.col("node_ts").alias("ts"))
        .unionByName(links.select(F.col("link_ts").alias("ts")))
        .agg(F.max("ts").alias("ts"))
        .collect()[0]["ts"]
    )
    return ts
