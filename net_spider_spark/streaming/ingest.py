"""Streaming ingest of findings + incremental latest-per-node state.

Parity target: the reference's conduit incremental parse (T1,
``ContikiNG.hs:145-162``) and the history-graph-as-event-log model
(T3, README.md:28-32). The reference has no watermarks/windows — its
"late data" story is structural: a late-arriving old finding simply
loses the latest-per-node ``max_by``. The streaming layer preserves
exactly that:

* ``stream_findings_json`` — unbounded ingest of JSON-lines findings
  (file source here; socket/Kafka sources drop in by changing
  ``readStream.format``) appended to the history Parquet table.
* ``stream_latest_per_node`` — the policyOverwrite view maintained
  incrementally with ``applyInPandasWithState`` keyed by
  subject_node: state = the newest finding seen under the batch
  argmax's order (found_at, finding_id); late rows lose that
  comparison instead of being dropped by a watermark, so batch replay
  and streaming agree row-for-row, ties included.
* ``parse_logs_streaming`` — incremental RPL log parse: new log files
  land in a directory; ``foreachBatch`` runs the batch block parser
  per micro-batch (blocks are contiguous within one file, so files
  are the natural batch unit; SURVEY §2.8 T1).
"""

from __future__ import annotations

import json
from typing import Callable, Iterable, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from net_spider_spark.findings import pair_link_samples
from net_spider_spark.model import FINDINGS_SCHEMA
from net_spider_spark.snapshot import _SAMPLE_COLS

# JSON wire schema for one finding per line (FIXTURES.md §4).
FINDING_JSON_SCHEMA = T.StructType(
    [
        T.StructField("subject_node", T.StringType()),
        T.StructField(
            "found_at",
            T.StructType(
                [
                    T.StructField("epoch_time", T.LongType()),
                    # flat tz fields, Timestamp.hs:80-100
                    T.StructField("tz_offset_min", T.IntegerType()),
                    T.StructField("tz_summer_only", T.BooleanType()),
                    T.StructField("tz_name", T.StringType()),
                ]
            ),
        ),
        T.StructField("node_attrs", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "neighbor_links",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("target_node", T.StringType()),
                        T.StructField("link_state", T.StringType()),
                        T.StructField(
                            "link_attrs", T.MapType(T.StringType(), T.StringType())
                        ),
                    ]
                )
            ),
        ),
    ]
)


def findings_from_json_lines(raw: DataFrame) -> DataFrame:
    """JSON-lines ``value`` column -> findings-shaped DataFrame; works
    identically on a batch ``spark.read.text`` or a streaming source
    (the projection is stateless).

    finding_id hashes the WHOLE raw line: distinct findings with the
    same (subject, timestamp) must not collide, or the latest-per-node
    argmax keeps both tied rows and emits duplicate subjects. Streamed
    ties therefore break by content hash, not arrival order (the batch
    path's ingest-order tie-break has no stable analogue in a stream).
    """
    # NOTE: from_json in PERMISSIVE mode yields an all-null struct for
    # malformed lines (not a NULL struct) — filter on the required
    # fields, or garbage rows flow into the table and the stateful op.
    parsed = raw.select(
        F.col("value"), F.from_json(F.col("value"), FINDING_JSON_SCHEMA).alias("f")
    ).where(
        F.col("f.subject_node").isNotNull()
        & F.col("f.found_at.epoch_time").isNotNull()
    )
    return parsed.select(
        F.xxhash64(F.col("value")).alias("finding_id"),
        F.col("f.subject_node").alias("subject_node"),
        F.col("f.found_at.epoch_time").alias("found_at"),
        F.col("f.found_at.tz_offset_min").alias("tz_offset_min"),
        F.col("f.found_at.tz_summer_only").alias("tz_summer_only"),
        F.col("f.found_at.tz_name").alias("tz_name"),
        F.col("f.node_attrs").alias("node_attrs"),
        F.col("f.neighbor_links").alias("neighbor_links"),
    )


def stream_findings_json(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream of JSON-lines findings -> findings-shaped streaming
    DataFrame (finding_id = xxhash64 of content; the monotone ingest
    id of the batch path is meaningless across an unbounded stream).

    ``max_files_per_trigger`` bounds each micro-batch to that many
    source files — production replays use it for backpressure, and
    tests use it to force MULTI-batch execution so cross-batch state
    and sink-reduction semantics are actually exercised."""
    reader = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.text(input_dir)
    return findings_from_json_lines(raw)


def read_findings_json(spark: SparkSession, path: str) -> DataFrame:
    """Batch twin of :func:`stream_findings_json`: load a JSON-lines
    findings file/directory (the reference's JSON wire codec,
    Timestamp.hs:80-100 / Found.hs:98-140) straight into the findings
    schema."""
    return findings_from_json_lines(spark.read.text(path))


def append_to_history(
    stream: DataFrame, table_path: str, checkpoint: str, trigger_available_now=True
):
    """writeStream append into the history-graph Parquet table — the
    S2 ``addFoundNode`` ingest path, vectorized and exactly-once."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", table_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_LATEST_STATE_SCHEMA = "found_at BIGINT, finding_id BIGINT, payload STRING"
_LATEST_OUT_SCHEMA = (
    "subject_node STRING, found_at BIGINT, node_attrs MAP<STRING,STRING>"
)


def _update_latest(
    key, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Keep the maximal finding per subject under the batch argmax's
    order (found_at, finding_id); emit the winner per batch.

    Late rows, and rows tied on found_at with a smaller finding_id,
    lose the comparison — the same winner ``latest_findings_per_node``
    keeps on full replay, whatever the micro-batch boundaries.
    """
    (subject,) = key
    best = state.get if state.exists else None  # (ts, fid, payload)
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        # vectorized lexicographic argmax over the batch
        i = (
            pdf[["found_at", "finding_id"]]
            .sort_values(["found_at", "finding_id"])
            .index[-1]
        )
        cand = (
            int(pdf["found_at"].loc[i]),
            int(pdf["finding_id"].loc[i]),
            json.dumps(dict(pdf["node_attrs"].loc[i] or {})),
        )
        if best is None or cand[:2] > tuple(best[:2]):
            best = cand
    state.update(tuple(best))
    yield pd.DataFrame(
        {
            "subject_node": [subject],
            "found_at": [best[0]],
            "node_attrs": [json.loads(best[2])],
        }
    )


def stream_latest_per_node(findings_stream: DataFrame) -> DataFrame:
    """Incrementally-maintained policyOverwrite view (A1 as a stream):
    ``applyInPandasWithState`` keyed by subject_node."""
    return (
        findings_stream.select(
            "subject_node", "found_at", "finding_id", "node_attrs"
        )
        .groupBy("subject_node")
        .applyInPandasWithState(
            _update_latest,
            outputStructType=_LATEST_OUT_SCHEMA,
            stateStructType=_LATEST_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_LINK_STATE_SCHEMA = (
    "found_at BIGINT, finding_id BIGINT, link_pos INT, payload STRING"
)
_LINK_OUT_SCHEMA = (
    "p1 STRING, p2 STRING, subject_node STRING, target_node STRING, "
    "link_state STRING, found_at BIGINT, finding_id BIGINT, "
    "link_pos INT, link_attrs MAP<STRING,STRING>"
)


def _update_latest_link(
    key, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Keep the maximal link sample per unordered endpoint pair under
    the batch unify's exact ordering (found_at, finding_id, link_pos) —
    so replaying the stream and running the batch ``max_by`` agree
    row-for-row, late data included (a late sample simply loses the
    comparison, it is never dropped by a watermark)."""
    p1, p2 = key
    best = state.get if state.exists else None  # (ts, fid, pos, payload)
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        # vectorized lexicographic argmax over the batch
        i = (
            pdf[["found_at", "finding_id", "link_pos"]]
            .sort_values(["found_at", "finding_id", "link_pos"])
            .index[-1]
        )
        cand = (
            int(pdf["found_at"].loc[i]),
            int(pdf["finding_id"].loc[i]),
            int(pdf["link_pos"].loc[i]),
            json.dumps(
                {
                    "subject_node": pdf["subject_node"].loc[i],
                    "target_node": pdf["target_node"].loc[i],
                    "link_state": pdf["link_state"].loc[i],
                    "link_attrs": dict(pdf["link_attrs"].loc[i] or {}),
                }
            ),
        )
        if best is None or cand[:3] > tuple(best[:3]):
            best = cand
    state.update(tuple(best))
    doc = json.loads(best[3])
    # Emit the full ordering key (found_at, finding_id, link_pos) so a
    # multi-batch replay's update-mode sink can reduce emissions with
    # the exact batch-unify comparison, not found_at alone — two
    # emissions tied on found_at would otherwise make the sink's winner
    # depend on micro-batch boundaries.
    yield pd.DataFrame(
        {
            "p1": [p1],
            "p2": [p2],
            "subject_node": [doc["subject_node"]],
            "target_node": [doc["target_node"]],
            "link_state": [doc["link_state"]],
            "found_at": [best[0]],
            "finding_id": [best[1]],
            "link_pos": [best[2]],
            "link_attrs": [doc["link_attrs"]],
        }
    )


def stream_latest_link_per_pair(findings_stream: DataFrame) -> DataFrame:
    """Incrementally-maintained link view (A3 latestLinkSample as a
    stream): explode each streamed finding's neighbor links, key by the
    swap-insensitive endpoint pair, and keep the winner under the batch
    unify ordering via ``applyInPandasWithState``.

    Together with :func:`stream_latest_per_node` this maintains the
    whole-graph snapshot incrementally — per micro-batch the updated
    pairs re-emit their current winner, so a downstream sink always
    holds the same link rows the batch ``get_snapshot`` would produce
    on full replay (before negation, which needs the node view and
    stays a batch join over the two small maintained views)."""
    keyed = pair_link_samples(findings_stream)
    return keyed.groupBy("p1", "p2").applyInPandasWithState(
        _update_latest_link,
        outputStructType=_LINK_OUT_SCHEMA,
        stateStructType=_LINK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_UNIFIED_STATE_SCHEMA = "left STRING, right STRING"


def _later_side(l: Column, r: Column) -> Column:
    """The default merge as a ``merge_sides`` column: the later of the
    two side-latest samples under (found_at, finding_id, link_pos),
    which is the latest of all the pair's samples (max is
    associative)."""

    def key(side: Column) -> Column:
        return F.struct(side["found_at"], side["finding_id"], side["link_pos"])

    return F.when(r.isNull() | (l.isNotNull() & (key(l) > key(r))), l).otherwise(r)


def stream_unified_link_per_pair(findings_stream: DataFrame, conf) -> DataFrame:
    """Custom-unifier incremental link view: the streaming twin of the
    batch ``_unify_links`` (``snapshot.py``), keyed by (pair, sub-ID)
    with ``applyInPandasWithState``.

    State per key = the LATEST sample from each endpoint side (under
    the batch ordering (found_at, finding_id, link_pos)); each
    micro-batch folds its per-side argmax into the slots and re-merges
    them: ``conf.merge_sides`` is the same Column the batch aggregate
    projects, applied to the two slots; a pandas ``conf.merge_samples``
    re-runs on the (<= 2)-row group. So replaying the stream emits
    exactly what the batch merge produces over the full sample
    history, late data included.

    CONTRACT: faithful for unifiers whose merge depends only on each
    endpoint's latest sample — the reference's flagship
    ``dioUnifierConf`` (DIO.hs:255-279, "take each endpoint's latest,
    pick the more parent-ish as base") and anything built like
    ``latestLinkSample``. A merge that needs deeper per-pair history
    (e.g. averaging all samples) cannot be maintained from this state
    and must run the batch path on replay; pass it here and the result
    reflects only each side's latest sample.

    Default-merge configs are supported too: with no ``sub_id`` this
    degrades to :func:`stream_latest_link_per_pair`; with a ``sub_id``
    the same stateful machinery runs keyed by (pair, sub-ID) and merges
    with the later of the two slots, so multi-link pairs keep one
    winner PER PHYSICAL LINK exactly like the batch path. A
    ``winner_transform`` is applied as Column rewrites over the merged
    output, mirroring ``snapshot.py``; ``negates`` needs the node view
    and stays a batch join downstream for every config, as with the
    default path.
    """
    merge_sides = conf.merge_sides
    merge = conf.merge_samples if merge_sides is None else None
    if merge is None and merge_sides is None:
        if conf.sub_id is None:
            out = stream_latest_link_per_pair(findings_stream)
            if conf.winner_transform is not None:
                for name, col in conf.winner_transform().items():
                    out = out.withColumn(name, col)
            return out
        merge_sides = _later_side
    # The merged row's own found_at is NOT monotone across batches (a
    # winner flip can adopt the other side's older timestamp), so each
    # emission carries ``_state_ord`` — the two slot ordering tuples,
    # which only ever advance — and a multi-batch update-mode sink
    # reduces with max_by(_state_ord) to recover the final view
    # independent of micro-batch boundaries.
    if merge is None:
        # the two slots as JSON, parsed and merged in the JVM below
        out_fields = T.StructType.fromDDL(
            "p1 STRING, p2 STRING, sub_id STRING, _l STRING, _r STRING"
        ).fields
    elif conf.merge_output_schema is None:
        raise ValueError("merge_output_schema required with merge_samples")
    else:
        out_fields = conf.merge_output_schema.fields
    out_schema = T.StructType(
        out_fields + [T.StructField("_state_ord", T.ArrayType(T.LongType()))]
    )

    keyed = pair_link_samples(findings_stream)
    sub_id = conf.sub_id() if conf.sub_id is not None else F.lit("")
    keyed = keyed.withColumn("sub_id", sub_id)

    _ORDER = ["found_at", "finding_id", "link_pos"]
    _DOC_COLS = [
        "subject_node", "target_node", "link_state",
        "found_at", "finding_id", "link_pos",
    ]

    def update(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        p1, p2, sid = key
        if state.exists:
            left, right = (
                json.loads(s) if s is not None else None for s in state.get
            )
        else:
            left, right = None, None
        slots = [left, right]
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            for side, mask in enumerate(
                (pdf["subject_node"] == p1, pdf["subject_node"] != p1)
            ):
                part = pdf[mask]
                if not len(part):
                    continue
                i = part.sort_values(_ORDER).index[-1]
                cand = {c: part[c].loc[i] for c in _DOC_COLS}
                cand["found_at"] = int(cand["found_at"])
                cand["finding_id"] = int(cand["finding_id"])
                cand["link_pos"] = int(cand["link_pos"])
                cand["link_attrs"] = dict(part["link_attrs"].loc[i] or {})
                cur = slots[side]
                if cur is None or (
                    cand["found_at"], cand["finding_id"], cand["link_pos"]
                ) > (cur["found_at"], cur["finding_id"], cur["link_pos"]):
                    slots[side] = cand
        docs = tuple(json.dumps(s) if s is not None else None for s in slots)
        state.update(docs)
        ord_vals = [
            v
            for s in slots
            for v in (
                (s["found_at"], s["finding_id"], s["link_pos"])
                if s is not None
                else (-1, -1, -1)
            )
        ]
        if merge is None:
            mdf = pd.DataFrame(
                {"p1": [p1], "p2": [p2], "sub_id": [sid],
                 "_l": [docs[0]], "_r": [docs[1]]}
            )
        else:
            mdf = merge(pd.DataFrame(
                [{"p1": p1, "p2": p2, "sub_id": sid, **s}
                 for s in slots if s is not None]
            ))
        yield mdf.assign(_state_ord=[list(ord_vals)] * len(mdf))

    out = keyed.groupBy("p1", "p2", "sub_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_UNIFIED_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if merge is None:
        sample_t = keyed.select(F.struct(*_SAMPLE_COLS)).schema[0].dataType
        l, r = (F.from_json(c, sample_t) for c in ("_l", "_r"))
        out = out.select(
            "p1", "p2", "sub_id", merge_sides(l, r).alias("_w"), "_state_ord"
        ).selectExpr(
            "p1", "p2", "sub_id", *[f"_w.{c} AS {c}" for c in _SAMPLE_COLS],
            "_state_ord",
        )
    if conf.winner_transform is not None:
        # Column rewrites over the merged sample, exactly where the
        # batch path applies them (snapshot._unify_links)
        for name, col in conf.winner_transform().items():
            out = out.withColumn(name, col)
    return out


def parse_logs_streaming(
    spark: SparkSession,
    log_dir: str,
    sink: Callable[[DataFrame, DataFrame, int], None],
    head: str = "syslog",
    year: Optional[int] = None,
    checkpoint: Optional[str] = None,
):
    """Incremental RPL log parsing: watch ``log_dir`` for new files;
    per micro-batch run the batch block parser on the new files and
    hand (dio_findings, dao_findings, batch_id) to ``sink``.

    foreachBatch is the pragmatic route (SURVEY §2.8 T1): log blocks
    are contiguous within one file, and the file stream delivers whole
    new files per batch — so batch-parsing each micro-batch is exact,
    with no cross-batch block state to carry.
    """
    from net_spider_spark.rpl.contiki import parse_contiki_logs

    files = spark.readStream.format("text").option("wholetext", "true").load(log_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # The file stream delivers whole new files; re-run the batch
        # parser on exactly those paths (blocks never span files).
        file_list = [
            r["file"].replace("file://", "")
            for r in batch_df.select(F.input_file_name().alias("file"))
            .distinct()
            .collect()
        ]
        if not file_list:
            return
        dio, dao = parse_contiki_logs(
            batch_df.sparkSession, file_list, head=head, year=year
        )
        sink(dio, dao, batch_id)

    writer = files.writeStream.foreachBatch(handle).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
