"""common_ngrams (boilerplate detection), BM25 retrieval."""

import pytest
from pyspark.sql import functions as F

from net_spider_spark.pipeline import text as TX


def test_common_ngrams_finds_planted_boilerplate(spark):
    boiler = "all rights reserved worldwide"
    rows = [(i, f"doc body {i} unique words here {boiler}") for i in range(50)]
    rows += [(100 + i, f"totally different text {i} nothing shared") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = TX.common_ngrams(docs, n=3, top_k=5).collect()
    assert top[0]["rank"] == 1
    # the planted 4-word phrase yields 2 trigrams present in 50 docs
    assert top[0]["doc_freq"] == 50
    assert "rights" in top[0]["ngram"] or "reserved" in top[0]["ngram"]
    # each doc counted once per gram (distinct per doc)
    assert all(r["doc_freq"] <= 55 for r in top)


def test_bm25_ranks_relevant_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark join window"),  # high tf for spark
            (2, "spark join"),                     # short, both terms
            (3, "the quick brown fox"),            # no terms
            (4, "join join join join join join join join"),  # common term
            (5, "window functions only"),
        ],
        "doc_id long, text string",
    )
    out = TX.bm25_search(docs, ["spark", "join"], top_k=5).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # zero-score docs excluded
    assert ids[0] in (1, 2)  # docs matching the rarer term rank first
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    ranks = [r["rank"] for r in out]
    assert ranks == list(range(1, len(out) + 1))


def test_bm25_case_insensitive_and_dedup_terms(spark):
    docs = spark.createDataFrame(
        [(1, "Spark SPARK spark"), (2, "nothing")], "doc_id long, text string"
    )
    out = TX.bm25_search(docs, ["SPARK", "spark"], top_k=5).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_token_divergence(spark):
    from net_spider_spark.pipeline import text as TX

    a = spark.createDataFrame(
        [(0, "apple apple apple shared"), (1, "apple shared")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(2, "banana shared"), (3, "banana banana shared shared")],
        "doc_id long, text string",
    )
    rows = TX.token_divergence(a, b, top_k=10).collect()
    got = {r["token"]: r for r in rows}
    # vocab = {apple, banana, shared}, na=6, nb=6, V=3
    assert got["apple"]["cnt_a"] == 4 and got["apple"]["cnt_b"] == 0
    assert got["apple"]["p_a"] == 5 / 9 and got["apple"]["p_b"] == 1 / 9
    assert got["banana"]["prob_gap"] == 1 / 9 - 4 / 9
    # shared: 2 in a, 3 in b -> p 3/9 vs 4/9, slightly under-represented
    assert got["shared"]["prob_gap"] == 3 / 9 - 4 / 9
    assert got["shared"]["kl_term"] < 0
    # ordering: largest |gap| first, tie on token
    gaps = [abs(r["prob_gap"]) for r in rows]
    assert gaps == sorted(gaps, reverse=True)
    # over-represented token has positive KL contribution
    assert got["apple"]["kl_term"] > 0
    # determinism across reruns
    again = TX.token_divergence(a, b, top_k=10).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


# ---------------------------------------------------------------------------
# Learned BPE: distributed grouped-aggregate learning must reproduce the
# reference algorithm (Sennrich et al. 2016 learn_bpe) exactly —
# pure-Python spec below mirrors its get_stats + greedy merge loop.
# ---------------------------------------------------------------------------

def _py_pretok(text):
    import re

    return re.findall(
        r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+", text
    )


def _py_bpe_learn(texts, n_merges):
    from collections import Counter

    wc = Counter(w for t in texts for w in _py_pretok(t))
    vocab = [(list(w), f) for w, f in wc.items()]

    def merge_word(syms, pair):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    merges = []
    for r in range(1, n_merges + 1):
        stats = Counter()
        for syms, f in vocab:
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += f
        if not stats:
            break
        (a, b), c = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a, b, a + b, c))
        vocab = [(merge_word(s, (a, b)), f) for s, f in vocab]
    return merges, vocab


_BPE_TEXTS = [
    "low lower lowest low low newer newest new",
    "wider wide widest new newer lower low",
    "the lowest of the low, the newest of the new",
    "999 new lows, 42 wide rows!!",
]


def test_bpe_learn_matches_python_spec(spark):
    df = spark.createDataFrame(
        list(enumerate(_BPE_TEXTS)), "doc_id long, text string"
    )
    got = TX.bpe_learn(df, n_merges=12)
    want, _ = _py_bpe_learn(_BPE_TEXTS, 12)
    assert got == want


def test_bpe_learn_identical_symbol_runs(spark):
    # Regression: a run of >=4 identical symbols. A single-separator
    # replace encoding consumes the boundary shared by adjacent
    # occurrences, yielding [aa,a,a] for 'aaaa' under merge (a,a); the
    # double-separator encoding must reproduce the greedy reference
    # [aa,aa] (and [aa,aa,a] for 'aaaaa').
    texts = ["aaaa aaaa aaaaa bbbb abab"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = TX.bpe_learn(df, n_merges=6)
    want, _ = _py_bpe_learn(texts, 6)
    assert got == want
    merges = got
    rows = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct_tokens"])
        for r in TX.bpe_encode_stats(df, merges).collect()
    }
    # spec encode
    def enc(text):
        toks = []
        for w in _py_pretok(text):
            syms = list(w)
            for _, a, b, _m, _c in merges:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            toks.extend(syms)
        return toks

    toks = enc(texts[0])
    assert rows[0] == (len(toks), len(set(toks)))


def test_bpe_encode_matches_python_spec(spark):
    df = spark.createDataFrame(
        list(enumerate(_BPE_TEXTS)), "doc_id long, text string"
    )
    merges = TX.bpe_learn(df, n_merges=12)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct_tokens"])
        for r in TX.bpe_encode_stats(df, merges).collect()
    }

    # encode each doc with the python spec's merge_word loop
    def enc(text):
        toks = []
        for w in _py_pretok(text):
            syms = list(w)
            for _, a, b, _m, _c in merges:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            toks.extend(syms)
        return toks

    for doc_id, text in enumerate(_BPE_TEXTS):
        toks = enc(text)
        assert got[doc_id] == (len(toks), len(set(toks)))


def test_bpe_learn_batches_merges_per_round(spark):
    """The round-batched learner must (a) still match the sequential
    spec merge-for-merge at a realistic merge count, and (b) do it in
    far fewer pair-count rounds than merges — the scale property that
    makes a 32k-merge vocabulary feasible (one aggregate job per
    ROUND, not per merge)."""
    texts = [
        " ".join(
            ["the quick brown fox jumps over the lazy dog"] * 3
            + ["pack my box with five dozen liquor jugs"] * 2
            + ["sphinx of black quartz judge my vow"]
        ),
        "how vexingly quick daft zebras jump the dog and the fox",
        "the five boxing wizards jump quickly over lazy dogs",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    n = 64
    want, _ = _py_bpe_learn(texts, n)
    # Default: the vocab fits the driver guard -> exact incremental
    # Sennrich on the driver, zero per-merge Spark jobs.
    got = TX.bpe_learn(df, n_merges=n)
    assert got == want and len(got) == n
    assert TX._LAST_LEARN_PATH == "driver"
    assert TX._LAST_LEARN_ROUNDS == 0
    # Forced distributed path: still exact, and the round batching
    # keeps the pair-count job total below one-per-merge.
    got_dist = TX.bpe_learn(df, n_merges=n, driver_max_words=0)
    assert got_dist == want
    assert TX._LAST_LEARN_PATH == "distributed"
    assert TX._LAST_LEARN_ROUNDS < n


def test_bpe_learn_stops_when_pairs_run_out(spark):
    # single-char pretokens only -> zero adjacent pairs -> no merges
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    merges = TX.bpe_learn(df, n_merges=5)
    # pretokens are ' b', ' c', ' d' (2 symbols) and 'a' -> pairs exist
    assert 0 < len(merges) <= 5
    df2 = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert TX.bpe_learn(df2, n_merges=5) == []


def test_bpe_encode_separator_byte_passthrough(spark):
    # a pretoken containing the 0x1F separator must pass through as one
    # unmergeable token, not corrupt the merge encoding
    df = spark.createDataFrame(
        [(1, "low low\x1flow low")], "doc_id long, text string"
    )
    merges = TX.bpe_learn(df, n_merges=3)
    assert all("\x1f" not in m[3] for m in merges)
    row = TX.bpe_encode_stats(df, merges).collect()[0]
    assert row["n_tokens"] >= 2


def test_bpe_encode_arrow_symbol_runs_and_passthrough(spark):
    # The Arrow encoder must reproduce the run semantics the double-
    # separator replace encodes ('aaaa' -> [aa,aa], 'aaaaa' -> [aa,aa,a])
    # and the 0x1F passthrough contract, byte-for-byte with expr.
    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaaaa bbbb abab"), (2, "low low\x1flow low")],
        "doc_id long, text string",
    )
    merges = TX.bpe_learn(df, n_merges=6)
    expr = sorted(map(tuple, TX.bpe_encode_stats(df, merges, method="expr").collect()))
    arrow = sorted(map(tuple, TX.bpe_encode_stats(df, merges, method="arrow").collect()))
    assert expr == arrow


def test_bpe_encode_auto_dispatch_and_method_validation(spark):
    # auto = expr at small vocabularies (codegen, no Python evaluator),
    # arrow above BPE_ENCODE_EXPR_MAX_MERGES (MapInPandas; plan depth
    # independent of merge count — the 32k-merge production shape).
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "a cab dabbed")],
        "doc_id long, text string",
    )
    small = [(1, "t", "h", "th", 2), (2, "th", "e", "the", 2)]
    plan_small = TX.bpe_encode_stats(df, small)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan_small and "ArrowEvalPython" not in plan_small

    # >64 synthetic merges: chain would be 65+ nested replaces; auto
    # must pick the Arrow path and agree with the forced expr chain.
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    big = [(r + 1, alphabet[r % 26], alphabet[(r * 7 + 3) % 26],
            alphabet[r % 26] + alphabet[(r * 7 + 3) % 26], 1)
           for r in range(TX.BPE_ENCODE_EXPR_MAX_MERGES + 8)]
    auto_df = TX.bpe_encode_stats(df, big)
    plan_big = auto_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_big
    got_auto = sorted(map(tuple, auto_df.collect()))
    got_expr = sorted(map(tuple, TX.bpe_encode_stats(df, big, method="expr").collect()))
    assert got_auto == got_expr

    import pytest as _pytest
    with _pytest.raises(ValueError):
        TX.bpe_encode_stats(df, small, method="bogus")


# ---------------------------------------------------------------------------
# Model-based quality scoring: distributed fixed-point training must be
# bit-identical to the sequential pure-Python spec (the determinism the
# DuckDB oracle relies on).
# ---------------------------------------------------------------------------

def _py_quality_model(rows, n_steps=8, lr=2.0):
    import math

    SCALE = float(1 << 20)
    feats, ys = [], []
    for r in rows:
        feats.append(
            [1.0, r["n_chars"] / 1000.0, r["punct_ratio"],
             r["alpha_ratio"], r["stopword_ratio"]]
        )
        ys.append(
            1.0
            if (
                r["n_chars"] >= 100
                and r["punct_ratio"] <= 0.2
                and r["alpha_ratio"] >= 0.5
            )
            else 0.0
        )
    n = len(feats)
    w = [0.0] * 5
    for _ in range(n_steps):
        g = [0] * 5
        for x, y in zip(feats, ys):
            t = w[0] * x[0]
            for i in range(1, 5):
                t = t + w[i] * x[i]
            p = 0.5 + 0.5 * t / (1.0 + abs(t))
            for i in range(5):
                g[i] += math.floor(((p - y) * x[i]) * SCALE)
        for i in range(5):
            w[i] = w[i] - lr * ((float(g[i]) / SCALE) / float(n))
    return w


def test_quality_model_train_matches_python_spec(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = TX.quality_model_train(docs, n_steps=8, lr=2.0)
    rows = TX.quality_scores(docs).collect()
    want = _py_quality_model(rows)
    assert got == want  # bit-identical, not approximately equal


def test_quality_model_train_partitioning_invariant(spark):
    # the fixed-point integer gradient sums make training independent
    # of partitioning/aggregation order — the 100 TB guarantee
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w1 = TX.quality_model_train(docs.coalesce(1))
    w8 = TX.quality_model_train(docs.repartition(8))
    assert w1 == w8


def test_quality_model_scores_separate_good_from_bad(spark):
    rows = [
        (1, "A long, well formed document " * 20),  # passes the gate
        (2, "??!! ### 123"),                        # fails everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # train on the real corpus, score the planted docs
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = TX.quality_model_train(corpus)
    out = {
        r["doc_id"]: r
        for r in TX.quality_model_scores(df, weights=w).collect()
    }
    assert out[1]["quality_score"] > out[2]["quality_score"]
    assert out[1]["pred_good"]


def test_qmodel_local_train_matches_distributed(spark, monkeypatch):
    # The driver fast path (one toPandas + numpy loop) must produce
    # bit-identical weights to the distributed aggregate loop: the
    # per-row float64 ops are replayed exactly and the only cross-row
    # reduction is an int64 sum on the 1/2^20 grid (order-free).
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    local = TX.quality_model_train(docs)
    monkeypatch.setenv("NET_SPIDER_LOCAL_TRAIN", "0")
    dist = TX.quality_model_train(docs)
    assert local == dist
