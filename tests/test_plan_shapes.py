"""Physical-plan regression tests: pin the plan *shapes* that make the
operators survive a 100x scale-up, so a refactor that silently
introduces a cartesian product, an unnecessary shuffle, or an unpruned
scan fails CI — not the cluster.

These assert on `explain` output, not timings, so they are stable on a
loaded box.
"""

import re

import pytest
from pyspark.sql import functions as F

from net_spider_spark import graphml, ingest
from net_spider_spark.cli import main
from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
from net_spider_spark.incremental import (
    fold_latest_links,
    fold_latest_nodes,
    update_latest_state,
)
from net_spider_spark.interval import Interval
from net_spider_spark.rpl.dao import dao_def_query
from net_spider_spark.rpl.dio import dio_def_query
from net_spider_spark.snapshot import Query, get_snapshot
from net_spider_spark.pipeline import curate as CU
from net_spider_spark.pipeline import dedup as D


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"some document body {i} " + ("dup phrase " * (i % 4)), f"src{i % 3}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_partitioned_history_scan_prunes(spark, tmp_path):
    findings = spark.createDataFrame(
        [(i, f"n{i % 5}", 86_400_000 * (i % 4) + i, None, None, None, {}, [])
         for i in range(40)],
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,link_state:string,"
        "link_attrs:map<string,string>>>",
    )
    path = str(tmp_path / "hist")
    ingest.write_findings(findings, path)
    iv = Interval.since(86_400_000 * 2)
    pruned = ingest.read_findings(spark, path, interval=iv)
    plan = plan_of(pruned)
    # Day partitions outside the interval must not be scanned: the
    # partition filter reaches the FileSourceScan.
    assert "found_day" in plan and "PartitionFilters: [" in plan
    assert pruned.count() == 20  # days 2 and 3 only


def test_table_reads_run_no_job(spark, tmp_path):
    # Reading the history (with or without an interval) takes its
    # schema from one footer on the driver: no inference job. A
    # compaction's read does the same, and one per-day count gives it
    # both the row total and the file budget: 4 jobs, where a plain
    # spark.read.parquet plus a total count and a per-day count join
    # ran 7 on this table under AQE.
    from conftest import spark_jobs

    findings = spark.createDataFrame(
        [(i, f"n{i % 5}", 86_400_000 * (i % 4) + i, None, None, None, {}, [])
         for i in range(40)],
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,link_state:string,"
        "link_attrs:map<string,string>>>",
    )
    path = str(tmp_path / "hist")
    ingest.write_findings(findings, path)
    ingest.write_findings(findings, path)
    for iv in (None, Interval.since(86_400_000 * 2)):
        jobs = spark_jobs(spark)
        ingest.read_findings(spark, path, interval=iv)
        assert jobs() == 0, jobs.describe()
    jobs = spark_jobs(spark)
    ingest.compact_history(spark, path)
    assert jobs() <= 4, jobs.describe()


def test_interval_read_lists_only_its_days(spark, tmp_path):
    # Above 32 day directories Spark lists a whole table in a job. A
    # bounded interval lists only its own found_day= directories, so a
    # one-day read of a 40-day history runs no job, and a read whose
    # interval holds no day is an empty frame of the table's schema.
    # Every read keeps exactly the rows of the whole-table read pruned
    # to the interval's days.
    from conftest import spark_jobs

    day = 86_400_000
    findings = spark.createDataFrame(
        [(i, f"n{i % 7}", day * (i % 40) + i, None, None, None, {}, [])
         for i in range(120)],
        "finding_id long, subject_node string, found_at long, "
        "tz_offset_min int, tz_summer_only boolean, tz_name string, "
        "node_attrs map<string,string>, "
        "neighbor_links array<struct<target_node:string,link_state:string,"
        "link_attrs:map<string,string>>>",
    )
    path = str(tmp_path / "hist")
    ingest.write_findings(findings, path)
    whole = spark.read.parquet(path)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    cases = [
        (Interval(day * 50, day * 60), None),  # no day
        (Interval(day * 5 + 1, day * 5 + 9), ("1970-01-06", "1970-01-06")),
        (Interval(0, day * 40), ("1970-01-01", "1970-02-09")),
        (Interval.since(day * 30), ("1970-01-31", "9999-12-31")),
        (Interval.until(day * 3 + 5), ("0000-01-01", "1970-01-04")),
    ]
    for iv, days in cases:
        jobs = spark_jobs(spark)
        got = ingest.read_findings(spark, path, interval=iv)
        built = jobs()
        want = whole.limit(0) if days is None else whole.filter(
            F.col("found_day").between(*days))
        assert got.schema == ingest.read_findings(spark, path).schema
        assert rows(got) == rows(want.drop("found_day")), iv
        if days is None or days[0] == days[1]:
            assert built == 0, jobs.describe()
    assert len(rows(ingest.read_findings(spark, path, Interval.always()))) == 120


def test_cis_snapshot_runs_no_python(spark, tmp_path, monkeypatch, capsys):
    # The CLI cis composition (DIO + DAO snapshots, combine_graphs) is
    # Catalyst end to end: no pandas grouped map, no Python UDF.
    import os

    log = os.path.join(os.path.dirname(__file__), "data", "syslog_sample.log")
    plans = []

    def capture(nodes, links, write):
        plans.extend(plan_of(df) for df in (nodes, links))

    monkeypatch.setattr(graphml, "write_graphml_to", capture)
    assert main(["--db", str(tmp_path / "db"), "cis", log, "--year", "2021"],
                spark=spark) == 0
    assert len(plans) == 2
    for plan in plans:
        for op in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert op not in plan, plan


def _analyzed_links(spark, query):
    findings = findings_to_df(spark, [
        FoundNode("a", 1000, [FoundLink("b")]),
        FoundNode("b", 2000, [FoundLink("a"), FoundLink("c")]),
        FoundNode("c", 1500, []),
    ])
    _, links = get_snapshot(findings, query)
    return links._jdf.queryExecution().analyzed().toString()


def test_negation_joins_only_when_negation_is_on(spark):
    # With negation off (the DIO and DAO unifiers) the links plan has
    # no node-timestamp join at all, not even one Catalyst prunes later.
    for query in (dio_def_query(found_node_policy="append"),
                  dao_def_query(found_node_policy="append")):
        assert "Join" not in _analyzed_links(spark, query)
    # The default unifier keeps both negation joins, under either
    # policy (the overwrite policy's argmax adds its LeftSemi join).
    for policy in ("append", "overwrite"):
        plan = _analyzed_links(spark, Query(found_node_policy=policy))
        assert plan.count("Join LeftOuter") == 2, plan


def test_codegen_only_ops_have_no_exchange(docs):
    # PII scrub, chunking, hash sampling, sharding: pure narrow
    # expressions — any Exchange in the plan is a regression.
    for df in (
        CU.pii_scrub(docs),
        CU.chunk_documents(docs),
        CU.hash_sample(docs, 0.5),
        CU.shuffle_shards(docs),
    ):
        plan = plan_of(df)
        assert "Exchange" not in plan, plan
        # executedPlan toString marks whole-stage-codegen spans "*(n)"
        assert "*(" in plan, plan


def test_no_cartesian_products_on_scale_paths(docs, spark):
    # Decontamination must meet on the gram-hash equi-join, and the
    # default embedding near-dup path on LSH buckets — never all-pairs.
    train = docs.where(F.col("doc_id") % 5 != 0)
    ev = docs.where(F.col("doc_id") % 5 == 0)
    deconta = CU.decontaminate(train, ev, n=4)
    emb = spark.createDataFrame(
        [(i, [float((i * j) % 7) - 3.0 for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    near = D.embedding_near_dup_groups(emb, threshold=0.9)
    for df in (deconta, near):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_repetition_stats_shuffles_on_doc_key_only(docs):
    # Two explode->groupBy aggregations: every HashAggregate keys on
    # doc_id — a global or per-token-only aggregation would be wrong
    # and a window-sort plan would not scale.
    plan = plan_of(CU.repetition_stats(docs))
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_incremental_links_single_aggregate(spark):
    # The two-batch fold must stay one aggregate tree over the union —
    # no join of state against batch (the fold IS the aggregate).
    findings = findings_to_df(
        spark,
        [
            FoundNode(
                f"n{i % 5}",
                1000 + i,
                [FoundLink(f"n{(i + 1) % 5}"), FoundLink(f"n{(i + 2) % 5}")],
            )
            for i in range(20)
        ],
    )
    b1 = findings.where(findings.finding_id % 2 == 0)
    b2 = findings.where(findings.finding_id % 2 == 1)
    state = fold_latest_links(fold_latest_links(None, b1), b2)
    plan = plan_of(state)
    assert "Join" not in plan  # union + aggregates only
    assert sorted(map(str, state.collect())) == sorted(
        map(str, fold_latest_links(None, findings).collect())
    )


def test_incremental_nodes_single_aggregate(spark, tmp_path):
    # The node-state fold is one aggregate (partial + final) over the
    # union of state and batch: no join, no second pass over the union.
    # A fold runs the write (two jobs under AQE) and nothing more: the
    # old state's schema comes from a footer read on the driver, and
    # the new state is read back with the schema the fold wrote.
    from conftest import spark_jobs

    findings = findings_to_df(
        spark,
        [
            FoundNode(
                f"n{i % 5}",
                1000 + i,
                [FoundLink(f"n{(i + 1) % 5}"), FoundLink(f"n{(i + 2) % 5}")],
            )
            for i in range(20)
        ],
    )
    b1 = findings.where(findings.finding_id % 2 == 0)
    b2 = findings.where(findings.finding_id % 2 == 1)
    plan = plan_of(fold_latest_nodes(b1, b2))
    assert "Join" not in plan
    assert len(re.findall(r"Aggregate\(", plan)) == 2, plan
    state = fold_latest_nodes(fold_latest_nodes(None, b1), b2)
    assert "Join" not in plan_of(state)

    path = str(tmp_path / "state")
    jobs = spark_jobs(spark)
    update_latest_state(spark, path, b1)
    assert jobs() <= 2, jobs.describe()
    jobs = spark_jobs(spark)
    got = update_latest_state(spark, path, b2)
    assert jobs() <= 2, jobs.describe()
    assert sorted(map(str, got.collect())) == sorted(map(str, state.collect()))


def test_set_based_dedup_never_explodes_shingles(docs):
    # The batch near-dup path must stay on the narrow per-doc-set
    # pipeline: the ONLY generator allowed is the signature unpivot
    # (stack); an `explode` in the candidate or verify plan means the
    # exploded (doc, shingle) inverted index crept back in, multiplying
    # the dominant shuffle at corpus scale.
    sets = D.doc_shingle_sets(docs)
    cand = D.minhash_candidates(D.minhash_signatures_sets(sets))
    plan = plan_of(cand)
    assert "explode" not in plan
    verify = D.jaccard_verify_sets(cand, sets, threshold=0.2)
    assert "explode" not in plan_of(verify)


def test_span_removal_no_range_join(docs):
    # Coverage marking must be equi-joins (gram set, then doc-keyed
    # interval attach), never a range/cartesian join of positions
    # against spans — and no per-position explosion at all since the
    # merged-interval rewrite (positions are tested inside codegen).
    df = D.remove_duplicate_spans(docs, n=3, min_docs=2)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only explode left is the gram posexplode (one per token); the
    # explode(sequence(start..start+n-1)) position explode must stay
    # gone (the gram builder's transform(sequence(...)) is not an
    # explode and is fine)
    assert "explode(sequence" not in plan.lower().replace(" ", "")
    # the doc-keyed join streams the wide token arrays un-sorted: a
    # sort-merge join here sorts every doc's token array (the wide-row
    # sort hazard); the spans build side hashes instead
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in exec_plan or "BroadcastHashJoin" in exec_plan
    assert "SortMergeJoin [doc_id" not in exec_plan


def test_mixture_sample_rank_never_spans_a_source(docs):
    # The quota-rank window must partition by (source, key-prefix
    # bucket), never by source alone: a whole-source window partition
    # is a single-task multi-TB external sort at 100 TB (the quota is
    # a non-literal column, so WindowGroupLimit cannot rescue it).
    for df in (
        CU.mixture_sample(docs, {"src0": 2.0, "src1": 1.0}),
        CU.temperature_mixture_sample(docs, alpha=0.5),
    ):
        plan = plan_of(df)
        specs = [
            seg for seg in plan.split("windowspecdefinition(")[1:]
        ]
        assert specs, "expected a window in the quota-rank plan"
        for spec in specs:
            assert "_bkt" in spec.split(")")[0] + spec[:200], (
                "window partition spec must include the _bkt bucket"
            )
        # the shuffle feeding the window hashes on both keys
        assert "hashpartitioning(source" in plan
        assert "_bkt" in plan.split("hashpartitioning(source", 1)[1][:80]


def test_boilerplate_removal_plan(docs):
    # Marking must be an equi-join on the trimmed line (hash or
    # broadcast), never cartesian/nested-loop, and the only explode is
    # the one line posexplode.
    df = D.remove_boilerplate_lines(docs, min_docs=2)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate explode") <= plan.count("explode")
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashJoin" in exec_plan  # broadcast or shuffled-hash, either


def test_bpe_encode_plan_stays_in_codegen(docs):
    # Learned-BPE encoding is a chain of literal replaces per pretoken:
    # one projection, zero Python evaluators, zero Exchange.
    from net_spider_spark.pipeline import text as TX

    merges = [(1, "d", "u", "du", 9), (2, "du", "p", "dup", 9)]
    df = TX.bpe_encode_stats(docs, merges)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_quality_model_scoring_plan_stays_in_codegen(docs):
    # Scoring under fixed weights is one narrow projection.
    from net_spider_spark.pipeline import text as TX

    df = TX.quality_model_scores(docs, weights=[0.1, 0.2, 0.3, 0.4, 0.5])
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_phash_candidates_plan_no_cartesian(spark):
    # Banded candidate join must be an equi-join on (band, sig) with
    # the hot-bucket anti-join — never cartesian/nested-loop.
    from net_spider_spark.pipeline import dedup as DD

    hashes = spark.createDataFrame(
        [(i, (i * 2654435761) % (1 << 63)) for i in range(50)],
        "media_id long, phash long",
    )
    df = DD.image_phash_dedup(hashes, max_hamming=2)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_decontaminate_fuzzy_plan_no_cartesian(spark, docs):
    # Banded probe + verify must stay equi-joins end to end: a
    # cartesian (train x eval) regression is exactly what this
    # operator exists to avoid.
    from net_spider_spark.pipeline import curate as CU

    train = docs.where(F.col("doc_id") % 5 != 0)
    eval_df = docs.where(F.col("doc_id") % 5 == 0)
    df = CU.decontaminate_fuzzy(train, eval_df)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_rule_filters_pure_projection(docs):
    # Gopher and C4 rule filters are scan-shaped: no shuffle, no
    # Python eval — the whole document scan is one narrow stage.
    from net_spider_spark.pipeline import text as TX

    for df in (TX.gopher_rules(docs), TX.c4_clean(docs)):
        plan = plan_of(df)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_wordpiece_encode_single_arrow_stage(docs):
    # The greedy encoder is ONE mapInPandas over a projection: no
    # shuffle before the Arrow stage, exactly one Python boundary.
    from net_spider_spark.pipeline import text as TX

    df = TX.wordpiece_encode_stats(docs, ["a", "b", "so", "me"])
    plan = plan_of(df)
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
