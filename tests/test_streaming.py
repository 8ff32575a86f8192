"""Structured Streaming ingest tests: JSON findings stream -> history
table; incremental latest-per-node state; streaming log parse."""

import json
import os

from net_spider_spark.streaming.ingest import (
    append_to_history,
    parse_logs_streaming,
    stream_findings_json,
    stream_latest_per_node,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _finding(subject, ts, targets=(), attrs=None):
    return {
        "subject_node": subject,
        "found_at": {"epoch_time": ts},
        "node_attrs": attrs or {},
        "neighbor_links": [
            {"target_node": t, "link_state": "to_target", "link_attrs": {}}
            for t in targets
        ],
    }


def test_stream_append_and_snapshot(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "batch1.jsonl", [
        _finding("a", 1000, ["b"]),
        _finding("b", 2000, ["a"], {"k": "v"}),
    ])
    table = str(tmp_path / "history")
    q = append_to_history(
        stream_findings_json(spark, str(src)),
        table, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(60)

    from net_spider_spark.snapshot import Query, get_snapshot

    findings = spark.read.parquet(table)
    assert findings.count() == 2
    nodes, links = get_snapshot(findings, Query())
    assert nodes.count() == 2 and links.count() == 1

    # Second batch arrives late with an OLD timestamp: must not displace
    # the newer state on replay (the reference's late-data story).
    _write_jsonl(src / "batch2.jsonl", [_finding("b", 500, [], {"k": "old"})])
    q2 = append_to_history(
        stream_findings_json(spark, str(src)),
        table, str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(60)
    findings = spark.read.parquet(table)
    assert findings.count() == 3
    nodes, _ = get_snapshot(findings, Query())
    b = [r for r in nodes.collect() if r["node_id"] == "b"][0]
    assert b["node_ts"] == 2000 and b["node_attrs"] == {"k": "v"}


def test_stream_latest_per_node(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.jsonl", [
        _finding("x", 100, [], {"s": "old"}),
        _finding("x", 300, [], {"s": "new"}),
        _finding("y", 200, [], {"s": "only"}),
    ])
    out = []
    q = (
        stream_latest_per_node(stream_findings_json(spark, str(src)))
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: out.extend(
            r.asDict(recursive=True) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["subject_node"]: (r["found_at"], r["node_attrs"]) for r in out}
    assert got == {"x": (300, {"s": "new"}), "y": (200, {"s": "only"})}


def test_parse_logs_streaming(spark, tmp_path):
    logdir = tmp_path / "logs"
    logdir.mkdir()
    import shutil

    shutil.copy(f"{DATA}/syslog_sample.log", logdir / "one.log")
    results = []

    def sink(dio, dao, batch_id):
        results.append((dio.count(), dao.count()))

    q = parse_logs_streaming(
        spark, str(logdir), sink, head="syslog", year=2021,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert results == [(1, 2)]


def test_stream_distinct_content_same_subject_ts(spark, tmp_path):
    # Two DIFFERENT findings with the same (subject, timestamp) must get
    # distinct finding_ids (content hash) — a shared id would tie in the
    # latest-per-node argmax and emit duplicate subject rows.
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.jsonl", [
        _finding("x", 100, [], {"s": "one"}),
        _finding("x", 100, [], {"s": "two"}),
    ])
    df = stream_findings_json(spark, str(src))
    out = []
    q = (
        df.writeStream.outputMode("append")
        .foreachBatch(lambda d, _id: out.extend(
            r.asDict(recursive=True) for r in d.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(out) == 2
    assert len({r["finding_id"] for r in out}) == 2
    # and the stateful latest-per-node op emits exactly one x
    out2 = []
    q2 = (
        stream_latest_per_node(stream_findings_json(spark, str(src)))
        .writeStream.outputMode("update")
        .foreachBatch(lambda d, _id: out2.extend(
            r.asDict(recursive=True) for r in d.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert len([r for r in out2 if r["subject_node"] == "x"]) == 1


def test_stream_latest_per_node_ties_break_like_batch(spark, tmp_path):
    # Two subjects, each with two findings at the same found_at, one
    # per file and in opposite finding_id order: an arrival-order rule
    # (first in a batch, or newest batch) picks the smaller finding_id
    # for one of them. The stream must keep the batch argmax's winner,
    # the larger finding_id, in one micro-batch and in one per file.
    from pyspark.sql import functions as F

    from net_spider_spark.snapshot import latest_findings_per_node
    from net_spider_spark.streaming.ingest import read_findings_json

    def line(subject, v):
        return json.dumps(_finding(subject, 100, [], {"v": v}))

    def fid(text):
        return spark.createDataFrame([(text,)], "value string").select(
            F.xxhash64("value")).first()[0]

    files = ([], [])
    for subject, larger_first in (("x", True), ("y", False)):
        pair = sorted((line(subject, "1"), line(subject, "2")), key=fid)
        if larger_first:
            pair.reverse()
        for f, text in zip(files, pair):
            f.append(text)
    src = tmp_path / "in"
    src.mkdir()
    for n, f in enumerate(files):
        (src / f"b{n}.jsonl").write_text("\n".join(f) + "\n")

    want = {
        r["subject_node"]: r["node_attrs"]
        for r in latest_findings_per_node(
            read_findings_json(spark, str(src))).collect()
    }
    assert len(want) == 2
    for per_trigger in (None, 1):
        out = []
        q = (
            stream_latest_per_node(stream_findings_json(
                spark, str(src), max_files_per_trigger=per_trigger))
            .writeStream.outputMode("update")
            .foreachBatch(lambda d, _id: out.extend(
                r.asDict(recursive=True) for r in d.collect()))
            .option("checkpointLocation", str(tmp_path / f"ckpt{per_trigger}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if per_trigger:
            assert len(out) == 4  # both subjects emitted in both batches
        got = {r["subject_node"]: r["node_attrs"] for r in out}  # last wins
        assert got == want, per_trigger


def test_stream_tz_fields_parsed(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    doc = _finding("z", 500)
    doc["found_at"].update(
        {"tz_offset_min": 540, "tz_summer_only": False, "tz_name": "JST"}
    )
    _write_jsonl(src / "b1.jsonl", [doc])
    out = []
    q = (
        stream_findings_json(spark, str(src))
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, _id: out.extend(
            r.asDict(recursive=True) for r in d.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert out[0]["tz_offset_min"] == 540 and out[0]["tz_name"] == "JST"


def test_stream_latest_link_per_pair_matches_batch(spark, tmp_path):
    from net_spider_spark.snapshot import Query, get_snapshot
    from net_spider_spark.streaming.ingest import stream_latest_link_per_pair

    src = tmp_path / "in"
    src.mkdir()
    batch1 = [
        _finding("a", 1000, ["b"]),          # a->b observed by a
        _finding("b", 3000, ["a", "c"]),     # b's newer view of both pairs
        _finding("c", 1500, ["b"]),
    ]
    _write_jsonl(src / "b1.jsonl", batch1)
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "hist")

    def run_stream():
        out = []
        q = (
            stream_latest_link_per_pair(stream_findings_json(spark, str(src)))
            .writeStream.outputMode("update")
            .foreachBatch(lambda d, _id: out.extend(
                r.asDict(recursive=True) for r in d.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return out

    out1 = run_stream()
    # winners: pair (a,b) -> b's 3000 observation; (b,c) -> b's 3000
    got1 = {(r["p1"], r["p2"]): (r["subject_node"], r["found_at"])
            for r in out1}
    assert got1 == {("a", "b"): ("b", 3000), ("b", "c"): ("b", 3000)}

    # Late batch: an OLD observation of (a,b) must lose; a genuinely
    # newer observation of (b,c) must win.
    _write_jsonl(src / "b2.jsonl", [
        _finding("a", 500, ["b"]),
        _finding("c", 4000, ["b"]),
    ])
    out2 = run_stream()
    got2 = {(r["p1"], r["p2"]): (r["subject_node"], r["found_at"])
            for r in out2}
    assert got2[("a", "b")] == ("b", 3000)   # late row lost
    assert got2[("b", "c")] == ("c", 4000)   # newer row won
    # Emissions carry the full ordering key so a multi-batch sink can
    # reduce by (found_at, finding_id, link_pos), not found_at alone.
    assert all("finding_id" in r and "link_pos" in r for r in out2)

    # Batch/stream agreement: replay everything through the batch
    # engine; the unify winners must match the maintained view.
    q = append_to_history(
        stream_findings_json(spark, str(src)), table, str(tmp_path / "ckpt_h"))
    q.awaitTermination(120)
    findings = spark.read.parquet(table)
    _, links = get_snapshot(findings, Query(found_node_policy="append"))
    batch_links = {
        tuple(sorted((r["source_node"], r["dest_node"]))): r["link_ts"]
        for r in links.collect()
    }
    stream_links = {k: ts for k, (_, ts) in got2.items()}
    assert batch_links == stream_links


def test_read_findings_json_batch_twin(spark, tmp_path):
    # batch reader == streaming reader on the same JSONL input
    from net_spider_spark.streaming.ingest import read_findings_json

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.jsonl", [
        _finding("x", 100, ["y"], {"s": "a"}),
        _finding("y", 200, [], {}),
    ])
    got = read_findings_json(spark, str(src)).orderBy("subject_node").collect()
    assert [r["subject_node"] for r in got] == ["x", "y"]
    assert got[0]["found_at"] == 100
    assert got[0]["neighbor_links"][0]["target_node"] == "y"
    assert got[0]["node_attrs"] == {"s": "a"}


def test_latest_link_multi_batch_single_replay(spark, tmp_path):
    # maxFilesPerTrigger=1 forces one micro-batch PER FILE within a
    # single availableNow replay: cross-batch state survives, and
    # update-mode emissions tied on found_at must reduce by the full
    # (found_at, finding_id, link_pos) ordering, batch-boundary-free.
    from pyspark.sql import functions as F

    from net_spider_spark.streaming.ingest import stream_latest_link_per_pair

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.jsonl", [
        _finding("a", 1000, ["b"]),
        _finding("c", 3000, ["b"]),
    ])
    _write_jsonl(src / "b2.jsonl", [
        _finding("b", 3000, ["c"]),   # ties (b,c) on found_at
        _finding("a", 2000, ["b"]),   # newer (a,b)
    ])
    out = []
    q = (
        stream_latest_link_per_pair(
            stream_findings_json(spark, str(src), max_files_per_trigger=1))
        .writeStream.outputMode("update")
        .foreachBatch(lambda d, _id: out.extend(
            r.asDict(recursive=True) for r in d.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # multiple batches really ran: (a,b) must have emitted twice
    ab = [r for r in out if (r["p1"], r["p2"]) == ("a", "b")]
    assert len(ab) >= 2
    # reduce exactly like q_stream_latest_link_per_pair's sink
    import pandas as pd

    df = pd.DataFrame(out)
    winners = (
        df.sort_values(["found_at", "finding_id", "link_pos"])
        .groupby(["p1", "p2"]).last()
    )
    assert winners.loc[("a", "b")]["found_at"] == 2000
    # the (b,c) tie resolves deterministically by finding_id, matching
    # the batch unify's ordering on the same data
    from net_spider_spark.streaming.ingest import read_findings_json

    batch = read_findings_json(spark, str(src))
    samples = batch.select(
        "subject_node", "found_at", "finding_id",
        F.posexplode("neighbor_links").alias("link_pos", "nl"),
    ).select(
        F.least("subject_node", F.col("nl.target_node")).alias("p1"),
        F.greatest("subject_node", F.col("nl.target_node")).alias("p2"),
        "subject_node", "found_at", "finding_id", "link_pos",
    )
    expect = {
        (r["p1"], r["p2"]): (r["w"]["found_at"], r["w"]["finding_id"])
        for r in samples.groupBy("p1", "p2").agg(
            F.max_by(
                F.struct("found_at", "finding_id"),
                F.struct("found_at", "finding_id", "link_pos"),
            ).alias("w")
        ).collect()
    }
    got = {
        k: (int(v["found_at"]), int(v["finding_id"]))
        for k, v in winners.iterrows()
    }
    assert got == expect


def _dio_finding(subject, ts, links):
    """links: (target, neighbor_type, rank) triples in DIO attr shape."""
    return {
        "subject_node": subject,
        "found_at": {"epoch_time": ts},
        "node_attrs": {},
        "neighbor_links": [
            {
                "target_node": t,
                "link_state": "to_target" if nt == "preferred_parent" else "unused",
                "link_attrs": {"neighbor_type": nt, "neighbor_rank": str(rank)},
            }
            for t, nt, rank in links
        ],
    }


def test_stream_unified_link_custom_dio_merge(spark, tmp_path):
    # VERDICT r4 #6: the custom unifier (the reference's flagship
    # dioUnifierConf two-endpoint merge, DIO.hs:255-279) maintained
    # INCREMENTALLY: latest-sample-per-side state + re-merge per batch
    # must agree with the batch get_snapshot merge on full replay,
    # late data and winner flips included.
    from net_spider_spark.rpl.dio import dio_def_query, dio_unifier_conf
    from net_spider_spark.snapshot import get_snapshot
    from net_spider_spark.streaming.ingest import (
        read_findings_json,
        stream_unified_link_per_pair,
    )

    src = tmp_path / "in"
    src.mkdir()

    def run_stream(ckpt_tag):
        out = []
        q = (
            stream_unified_link_per_pair(
                stream_findings_json(spark, str(src), max_files_per_trigger=1),
                dio_unifier_conf(),
            )
            .writeStream.outputMode("update")
            .foreachBatch(lambda d, _id: out.extend(
                r.asDict(recursive=True) for r in d.collect()))
            .option("checkpointLocation", str(tmp_path / ckpt_tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # update mode re-emits a pair's full merged row each batch the
        # pair changes: the LAST emission per pair is the current view
        view = {}
        for r in out:
            view[(r["p1"], r["p2"])] = r
        # the links a snapshot keeps (DIO links are to_target or unused)
        return {
            k: (r["subject_node"], r["found_at"], r["link_attrs"])
            for k, r in view.items()
            if r["link_state"] != "unused"
        }

    def batch_view():
        batch = read_findings_json(spark, str(src))
        _, links = get_snapshot(
            batch, dio_def_query(found_node_policy="append"))
        return {
            (min(r["source_node"], r["dest_node"]),
             max(r["source_node"], r["dest_node"])): (
                r["source_node"], r["link_ts"], r["link_attrs"])
            for r in links.collect()
        }

    # batch 1: both endpoints observe (a,b); a's view is more parent-ish
    _write_jsonl(src / "b1.jsonl", [
        _dio_finding("a", 1000, [("b", "preferred_parent", 256)]),
        _dio_finding("b", 2000, [("a", "other_neighbor", 512)]),
    ])
    got = run_stream("ckpt1")
    assert got == batch_view()
    subj, ts, attrs = got[("a", "b")]
    assert (subj, ts) == ("a", 1000)  # more parent-ish side is the base
    assert attrs["source_neighbor_type"] == "preferred_parent"
    assert attrs["dest_neighbor_type"] == "other_neighbor"

    # batch 2: a LATE older sample must not displace state; a new pair
    # appears; batch 3 flips the (a,b) winner side (b becomes preferred
    # parent while a's newer view degrades to parent_candidate)
    _write_jsonl(src / "b2.jsonl", [
        _dio_finding("a", 500, [("b", "other_neighbor", 999)]),
        _dio_finding("c", 1500, [("b", "preferred_parent", 128)]),
        _dio_finding("b", 1000, [("c", "parent_candidate", 300)]),
    ])
    _write_jsonl(src / "b3.jsonl", [
        _dio_finding("b", 3000, [("a", "preferred_parent", 640)]),
        _dio_finding("a", 4000, [("b", "parent_candidate", 700)]),
    ])
    got = run_stream("ckpt1")  # same checkpoint: only new files replay
    assert got == batch_view()
    subj, ts, attrs = got[("a", "b")]
    assert (subj, ts) == ("b", 3000)  # winner flipped to b's sample
    assert attrs["source_neighbor_type"] == "preferred_parent"
    assert attrs["dest_neighbor_type"] == "parent_candidate"
    assert got[("b", "c")][2]["source_neighbor_type"] == "preferred_parent"


def test_stream_unified_default_merge_with_sub_id(spark, tmp_path):
    # Review fix: a default-merge config WITH a sub_id must keep one
    # winner per (pair, sub-ID) — not collapse multi-link pairs — and
    # winner_transform column rewrites must apply like the batch path.
    from pyspark.sql import functions as F

    from net_spider_spark.streaming.ingest import (
        stream_unified_link_per_pair,
    )
    from net_spider_spark.unify import unify_to_many

    def finding_with_port(subject, ts, target, my_port, their_port):
        return {
            "subject_node": subject,
            "found_at": {"epoch_time": ts},
            "node_attrs": {},
            "neighbor_links": [{
                "target_node": target,
                "link_state": "to_target",
                "link_attrs": {"subject_port": my_port,
                               "target_port": their_port},
            }],
        }

    src = tmp_path / "in"
    src.mkdir()
    # two PHYSICAL links between a and b (port pairs p1<->q1, p2<->q2)
    _write_jsonl(src / "b1.jsonl", [
        finding_with_port("a", 1000, "b", "p1", "q1"),
        finding_with_port("a", 1100, "b", "p2", "q2"),
        finding_with_port("b", 2000, "a", "q1", "p1"),
    ])
    from net_spider_spark.unify import sub_id_by_attrs

    conf = unify_to_many(sub_id_by_attrs("subject_port", "target_port"))
    out_rows = []
    q = (
        stream_unified_link_per_pair(
            stream_findings_json(spark, str(src)), conf)
        .writeStream.outputMode("update")
        .foreachBatch(lambda d, _id: out_rows.extend(
            r.asDict(recursive=True) for r in d.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    view = {}
    for r in out_rows:
        view[(r["p1"], r["p2"], r["sub_id"])] = (
            r["subject_node"], r["found_at"])
    # TWO physical links survive; the p1/q1 link's winner is b's newer
    # sample, the p2/q2 link keeps a's only sample
    assert len(view) == 2
    winners = sorted(view.values())
    assert winners == [("a", 1100), ("b", 2000)]


def test_stream_views_plus_finisher_equal_batch_snapshot(spark, tmp_path):
    # The two maintained views + the shared negate_and_resolve tail
    # reconstruct EXACTLY the batch snapshot links on full replay
    # (append policy — the stream folds over every sample).
    from pyspark.sql import functions as F

    from net_spider_spark.snapshot import Query, get_snapshot, negate_and_resolve
    from net_spider_spark.streaming.ingest import (
        stream_latest_link_per_pair,
        stream_latest_per_node,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.jsonl", [
        _finding("a", 1000, ["b"]),
        _finding("b", 3000, ["a", "c"]),
        _finding("c", 1500, ["b"]),
        _finding("d", 5000, []),        # fresh empty view of d
        _finding("a", 4000, ["d"]),     # a->d: d's newer empty obs negates
    ])

    def run(stream_df, ckpt, mode="update"):
        rows = []
        q = (
            stream_df.writeStream.outputMode(mode)
            .foreachBatch(lambda d, _id: rows.extend(d.collect()))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    link_rows = run(
        stream_latest_link_per_pair(stream_findings_json(spark, str(src))),
        "ckpt_l",
    )
    node_rows = run(
        stream_latest_per_node(stream_findings_json(spark, str(src))),
        "ckpt_n",
    )
    link_view = spark.createDataFrame(
        link_rows,
        "p1 string, p2 string, subject_node string, target_node string, "
        "link_state string, found_at long, finding_id long, link_pos int, "
        "link_attrs map<string,string>",
    )
    node_view = spark.createDataFrame(
        [(r["subject_node"], r["found_at"]) for r in node_rows],
        "node_id string, node_ts long",
    )
    finished = negate_and_resolve(link_view, node_view)
    got = {
        (r["source_node"], r["dest_node"], r["is_directed"], r["link_ts"])
        for r in finished.collect()
    }

    findings = read_findings_json_all(spark, str(src))
    _, batch_links = get_snapshot(findings, Query(found_node_policy="append"))
    want = {
        (r["source_node"], r["dest_node"], r["is_directed"], r["link_ts"])
        for r in batch_links.collect()
    }
    assert got == want and got  # non-empty and the a->d link negated
    assert not any(s == "a" and d == "d" for (s, d, _, _) in got)


def read_findings_json_all(spark, path):
    from net_spider_spark.streaming.ingest import read_findings_json

    return read_findings_json(spark, path)
