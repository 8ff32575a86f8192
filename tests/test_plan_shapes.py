"""Physical-plan regression tests: pin the plan *shapes* that make the
operators survive a 100x scale-up, so a refactor that silently
introduces a cartesian product, an unnecessary shuffle, or an unpruned
scan fails CI — not the cluster.

These assert on `explain` output, not timings, so they are stable on a
loaded box.
"""

import pytest
from pyspark.sql import functions as F

from net_spider_spark import ingest
from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
from net_spider_spark.incremental import fold_latest_links
from net_spider_spark.interval import Interval
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


def test_robots_filter_no_window_no_cartesian(spark):
    # The longest-match resolution is a max-struct AGGREGATE, never a
    # window over the frontier, and the rules join is an equi-join on
    # host — no cartesian, no per-URL sort.
    from net_spider_spark.pipeline import url as U

    urls = spark.createDataFrame(
        [(i, f"http://h{i % 3}.test/p/{i}") for i in range(50)],
        "doc_id long, url string",
    )
    rules = spark.createDataFrame(
        [(f"h{h}.test", False, "/p/") for h in range(3)],
        "host string, allow boolean, path_prefix string",
    )
    plan = plan_of(U.robots_filter(urls, rules))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_host_link_graph_single_aggregate_exchange(spark):
    # extract_links is a projection + generator; the only shuffle is
    # the final (src, dst) hash aggregate (plus AQE reads of it).
    from net_spider_spark.pipeline import url as U

    pages = spark.createDataFrame(
        [(i, f'<a href="http://h{(i + 1) % 3}.test/x">a</a>',
          f"http://h{i % 3}.test/p") for i in range(50)],
        "doc_id long, html string, url string",
    )
    plan = plan_of(U.host_link_graph(U.extract_links(pages)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_wordpiece_encode_single_arrow_stage(docs):
    # The greedy encoder is ONE mapInPandas over a projection: no
    # shuffle before the Arrow stage, exactly one Python boundary.
    from net_spider_spark.pipeline import text as TX

    df = TX.wordpiece_encode_stats(docs, ["a", "b", "so", "me"])
    plan = plan_of(df)
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
