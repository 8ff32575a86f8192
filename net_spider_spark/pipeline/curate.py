"""Training-data curation operators over a document corpus: repetition
signals, sequence packing, deterministic sampling, PII scrubbing,
shuffle sharding, and chunking.

These are the pipeline stages between "raw scraped documents" and
"training batches" that the dedup/quality operators in
:mod:`net_spider_spark.pipeline.text` and ``.dedup`` feed into. Like
those modules, everything here is built-in Catalyst expressions or
plain shuffles with map-side combine — no Python in the row loop — and
every operator uses only engine-portable expressions, so an external
SQL engine can recompute its output.

Determinism is load-bearing: sampling, sharding, and packing use
md5-derived keys (portable across Spark and DuckDB, unlike xxhash64)
so the same corpus always produces the same sample/shard/pack — a
training-data pipeline that cannot reproduce its own batches cannot be
debugged.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from net_spider_spark.pipeline.text import tokens_col
from net_spider_spark.reliability import materialize as _materialize
from net_spider_spark.reliability import materialize_lazy as _materialize_lazy

# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals used by Gopher-style quality
    filters: the fraction of duplicate lines, the fraction of
    characters sitting in duplicated lines, and the share of the most
    frequent token.

    Shape: two explode→groupBy aggregations (lines, tokens) joined back
    per document. Both group on (doc_id, unit), so the combiners do the
    heavy lifting map-side and the shuffle carries one row per distinct
    unit per document — at 100 TB this is the same plan as a word-count,
    the canonical linearly-scaling Spark job. A per-document
    higher-order-function version avoids the shuffle but goes O(units²)
    per doc; repeated-line spam (exactly what this filter hunts) makes
    that quadratic blowup real, so the aggregation wins.

    Documents with no non-empty lines (or no tokens) get 0.0 fractions.
    """
    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    line_rows = df.select(F.col(id_col), F.explode(lines).alias("line"))
    line_counts = (
        line_rows.groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("ln", F.length("line"))
    )
    line_stats = line_counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        (
            (F.sum("cnt") - F.count(F.lit(1)))
            / F.greatest(F.sum("cnt"), F.lit(1))
        ).alias("dup_line_frac"),
        (
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.col("ln")).otherwise(0))
            / F.greatest(F.sum(F.col("cnt") * F.col("ln")), F.lit(1))
        ).alias("dup_line_char_frac"),
    )
    tok_rows = df.select(
        F.col(id_col), F.explode(tokens_col(F.lower(text))).alias("tok")
    )
    tok_counts = tok_rows.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tok_stats = tok_counts.groupBy(id_col).agg(
        (F.max("cnt") / F.greatest(F.sum("cnt"), F.lit(1))).alias("top_token_frac")
    )
    base = df.select(F.col(id_col))
    return (
        base.join(line_stats, id_col, "left")
        .join(tok_stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce(F.col("dup_line_frac"), F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce(F.col("dup_line_char_frac"), F.lit(0.0)).alias(
                "dup_line_char_frac"
            ),
            F.coalesce(F.col("top_token_frac"), F.lit(0.0)).alias("top_token_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_documents(
    df: DataFrame,
    window_tokens: int = 2048,
    n_groups: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_counts: DataFrame | None = None,
) -> DataFrame:
    """Assign each document to a fixed-size training context window
    ("pack") by contiguous greedy packing: within a pack group, docs are
    laid out in ``id`` order and a new pack starts every
    ``window_tokens`` tokens.

    True first-fit bin packing is inherently sequential; the scalable
    version packs independently inside ``n_groups`` deterministic
    groups (``doc_id % n_groups``), so the only sort is a per-group
    window — one shuffle on the group key, each group sorted in
    isolation. ``n_groups`` should be ≥ the cluster's parallelism at
    the target scale; packing quality is unaffected because packs never
    straddle groups by construction.

    Returns (id, n_tokens, pack_id, pack_pos): pack_pos is the token
    offset of the document inside its pack (a doc longer than the
    remaining window spills into the next pack boundary — the consumer
    splits or drops at read time, same convention as fixed-stride
    packing in published LLM data pipelines).

    ``token_counts`` swaps the whitespace counter for a precomputed
    (id, n_tokens) table — pass ``text.bpe_encode_stats`` output to
    pack by LEARNED-vocabulary token counts, which is what the window
    budget actually means to a trainer (the whitespace count
    over-fills windows exactly on the frequent words a real vocab
    merges). One extra equi-join on the id; the pack window math is
    unchanged. The join is a LEFT join with missing counts coalesced
    to 0, so a partial/filtered counts table cannot silently drop
    documents from the packing output — every row of ``df`` appears in
    the result on both paths (matching the oracle's LEFT JOIN shape).
    """
    if token_counts is not None:
        grouped = df.select(F.col(id_col)).join(
            token_counts.select(
                F.col(id_col), F.col("n_tokens").cast("long").alias("n_tokens")
            ),
            id_col,
            "left",
        ).select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        )
        grouped = grouped.select(
            F.col(id_col),
            "n_tokens",
            F.pmod(F.col(id_col), F.lit(n_groups)).cast("long").alias("_grp"),
        )
    else:
        toks = F.size(tokens_col(F.col(text_col))).cast("long")
        grouped = df.select(
            F.col(id_col),
            toks.alias("n_tokens"),
            F.pmod(F.col(id_col), F.lit(n_groups)).cast("long").alias("_grp"),
        )
    w = (
        Window.partitionBy("_grp")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    binned = grouped.withColumn("_cum", cum_before)
    return binned.select(
        F.col(id_col),
        F.col("n_tokens"),
        (
            F.col("_grp") * F.lit(1 << 40)
            + F.floor(F.col("_cum") / F.lit(window_tokens))
        ).alias("pack_id"),
        F.pmod(F.col("_cum"), F.lit(window_tokens)).alias("pack_pos"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------


def _md5_key(id_col: str, seed: str) -> Column:
    """Portable deterministic per-row key: md5 over ``seed:id``.
    Identical bytes in Spark and DuckDB, unlike xxhash64/rand."""
    return F.md5(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")))


def hash_sample(
    df: DataFrame, fraction: float, seed: str = "s42", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff the first 4 hex
    digits of its md5 key fall below ``fraction`` of the 16-bit space.
    Unlike ``df.sample()``, membership is a pure function of the row id
    — re-runs, retried tasks, and other engines agree on the sample,
    and the filter is a codegen expression with zero shuffle."""
    threshold = format(int(fraction * 65536), "04x")
    return df.where(F.substring(_md5_key(id_col, seed), 1, 4) < F.lit(threshold))


def train_val_test_split(
    df: DataFrame,
    fractions: Sequence[float] = (0.8, 0.1, 0.1),
    labels: Sequence[str] = ("train", "val", "test"),
    seed: str = "s42",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic dataset split: assign each row a split label by
    where the first 4 hex digits of its md5 key fall in cumulative
    ``fractions`` ranges. Membership is a pure function of (id, seed) —
    retries, re-runs, and other engines agree; a document can never
    migrate between train and test across pipeline versions that keep
    the seed. Zero shuffle (one codegen CASE over the scan); hash
    uniformity stratifies any grouping implicitly."""
    if len(fractions) != len(labels) or not fractions:
        raise ValueError("fractions and labels must align and be non-empty")
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(fractions)}")
    key = F.substring(_md5_key(id_col, seed), 1, 4)
    cuts = []
    acc = 0.0
    for frac in fractions[:-1]:
        acc += frac
        cuts.append(format(int(acc * 65536), "04x"))
    expr = F.lit(labels[-1])
    for label, cut in zip(reversed(labels[:-1]), reversed(cuts)):
        expr = F.when(key < F.lit(cut), F.lit(label)).otherwise(expr)
    return df.withColumn("split", expr)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    seed: str = "s42",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): every row gets key ln(u)/w with u a
    frozen uniform from its md5 hash and w its weight; the k largest
    keys are exactly a weighted sample without replacement. Upweighted
    rows (quality score, source priority, length) are proportionally
    likelier to survive, yet the sample is a pure function of
    (id, seed) — re-runs, retried tasks, and other engines agree.

    One projection + a global top-k (TakeOrdered — no full sort). The
    float key is reproducible: u is an exact 60-bit integer / 2^60 and
    ln/div are single IEEE ops on identical operands in any engine.
    Rows with weight <= 0 never survive (key -> -inf).
    Returns the sampled rows with their ``es_key`` and ``wr_rank``.
    """
    from net_spider_spark.pipeline.sketch import hex15_to_long_sql, md5_sql

    u = (
        F.expr(hex15_to_long_sql(md5_sql(id_col, seed))).cast("double")
        / F.lit(float(1 << 60))
    )
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.log(u) / w).otherwise(F.lit(float("-inf")))
    ranked = (
        df.withColumn("es_key", key)
        .where(F.col("es_key") != F.lit(float("-inf")))
        .orderBy(F.desc("es_key"), F.asc(id_col))
        .limit(k)
    )
    return ranked.withColumn(
        "wr_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("es_key"), F.asc(id_col)))
        .cast("long"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    k: int,
    seed: str = "s42",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic k-per-stratum sample: rank rows inside each
    stratum by md5 key and keep the first ``k`` — a reproducible
    "reservoir" (the md5 order is uniform but frozen).

    One shuffle on the stratum key; rank ties are impossible because
    the tie-break includes the id itself. A stratum far larger than k
    still sorts only within its partition — for pathological skew
    (one stratum = half the corpus) pre-filter with
    :func:`hash_sample` at a few × k/|stratum| first.
    """
    w = Window.partitionBy(strata_col).orderBy(
        _md5_key(id_col, seed), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Conservative patterns valid in both java.util.regex (Spark) and RE2
# (DuckDB): no lookarounds, no backrefs.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_PATTERN = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails, IPv4 addresses, and NNN-NNN-NNNN phone numbers,
    replacing each with a typed placeholder token, and count the
    redactions per document. Replacement order (email → ip → phone) is
    part of the contract: an email is scrubbed before its digits could
    be misread as a phone.

    Pure regexp expressions — whole-stage codegen, no shuffle. (DuckDB
    twin needs the 'g' flag on regexp_replace; Spark replaces all
    matches by default.)
    """
    text = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0))
    n_ips = F.size(F.regexp_extract_all(text, F.lit(IPV4_PATTERN), 0))
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PHONE_PATTERN), 0))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
            IPV4_PATTERN,
            "<IP>",
        ),
        PHONE_PATTERN,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
        scrubbed.alias("scrubbed_text"),
    )


# ---------------------------------------------------------------------------
# Shuffle sharding
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def shuffle_shards(
    df: DataFrame, n_shards: int = 64, seed: str = "s42", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic global shuffle for training: derive a stable
    pseudo-random (shard, sort_key) per row from the md5 key. Writing
    with ``.repartition(n, "shard").sortWithinPartitions("sort_key")``
    (or partitionBy at the sink) materializes a reproducible shuffled
    order without any global sort — the 100 TB-safe way to shuffle a
    dataset (a global orderBy would funnel everything through one range
    exchange).

    The shard index uses the first two hex nibbles (uniform over 256)
    modulo ``n_shards``; the full 128-bit key breaks intra-shard order
    ties.
    """
    key = _md5_key(id_col, seed)
    sharded = df.withColumn("sort_key", key)
    # 0-255 value of the first two hex nibbles via position arithmetic —
    # portable (DuckDB has no conv(); both engines support the
    # SQL-standard position(needle IN haystack)).
    byte0 = F.expr(
        f"(position(substring(sort_key, 1, 1) IN '{_HEX}') - 1) * 16"
        f" + position(substring(sort_key, 2, 1) IN '{_HEX}') - 1"
    )
    return sharded.withColumn(
        "shard", F.pmod(byte0, F.lit(n_shards)).cast("long")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 64,
    seed: str = "s42",
    id_col: str = "doc_id",
) -> None:
    """Materialize a reproducible globally-shuffled copy of the corpus:
    one parquet directory per shard (``shard=K/``), rows within each
    file in md5-key order. A training job reading shards round-robin
    sees a deterministic pseudo-random permutation of the corpus.

    Plan: one hash repartition on the shard key + an in-partition sort
    — no global orderBy (a global sort funnels 100 TB through a single
    range-partition exchange; this shape is one all-to-all shuffle at
    full parallelism, which is the floor for any true shuffle).
    ``partitionBy`` writes each shard's rows from its own partition, so
    files-per-shard stays 1 without a second shuffle.
    """
    sharded = shuffle_shards(df, n_shards=n_shards, seed=seed, id_col=id_col)
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "sort_key")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def ngram_hash_rows(
    df: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Explode each document into its distinct word n-gram hashes:
    (id, gram_hash). md5 over the space-joined lowercased gram —
    portable across engines, and 32 hex chars keeps the shuffle rows
    narrow regardless of gram text length."""
    toks = tokens_col(F.lower(F.col(text_col)))
    n_grams = F.size(toks) - (n - 1)
    # Guard: Spark's sequence(1, 0) counts DOWN to [1, 0] instead of
    # yielding empty — a sub-n-token document must produce no grams.
    grams = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("gram_hash")
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents that overlap an evaluation/benchmark set
    at word n-gram granularity — the standard guard against benchmark
    leakage into training data.

    Per train document: total distinct n-grams, how many also occur
    anywhere in the eval set, the hit ratio, and
    ``contaminated = hit_ratio > threshold`` (default: any hit).

    Scale shape: both sides explode to (id, gram_hash) inverted-index
    rows and meet in an equi-join on the 32-char hash — work is
    O(matching grams), never train × eval. The eval side collapses to
    DISTINCT hashes first (benchmarks are small — typically
    broadcastable; at worst one shuffle of the small side). Documents
    shorter than ``n`` tokens have zero grams and are reported clean.
    """
    train_grams = ngram_hash_rows(train_df, n, text_col, id_col)
    eval_hashes = (
        ngram_hash_rows(eval_df, n, text_col, id_col)
        .select("gram_hash").distinct()
    )
    hits = train_grams.join(eval_hashes, "gram_hash", "left_semi")
    per_doc = train_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    hit_counts = hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hit_grams"))
    out = (
        train_df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .join(hit_counts, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("long").alias(
                "n_hit_grams"
            ),
        )
        .withColumn(
            "hit_ratio",
            F.col("n_hit_grams") / F.greatest(F.col("n_grams"), F.lit(1)),
        )
        .withColumn("contaminated", F.col("hit_ratio") > F.lit(threshold))
    )
    return out


def decontaminate_fuzzy(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    n_hashes: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NEAR-duplicate decontamination: flag training documents whose
    n-gram Jaccard similarity to ANY eval/benchmark document reaches
    ``threshold`` — the guard :func:`decontaminate`'s exact-n-gram
    hits cannot give against paraphrased or lightly-edited benchmark
    leakage (an eval doc reworded past the 8-gram granularity still
    shares most short shingles).

    Scale shape mirrors incremental near-dup dedup: MinHash-banded
    candidates of train docs PROBING the eval signature index
    (``minhash_candidates_against`` — never train x eval), exact
    Jaccard verification on candidates only, then a per-train-doc max.
    Returns (id, max_eval_jaccard, contaminated) for every train row
    (never-candidate docs report 0.0).
    """
    from net_spider_spark.pipeline import dedup as D

    # Work per DISTINCT CONTENT, not per doc: in a near-dup-heavy
    # corpus (boilerplate, mirrored pages — or the replicated scale
    # suite) a hot (band, sig) bucket pairs every COPY of a train doc
    # with every matching eval doc, and the pairwise Jaccard verifies
    # the SAME set intersection over and over. Tokenization, shingles,
    # signatures, candidates and Jaccard are ALL pure functions of the
    # raw text, so the per-doc max equals the per-content max — and
    # deduping on ``md5(text)`` BEFORE tokenizing means the expensive
    # interpreted shingle pass (higher-order lambdas never enter
    # codegen) runs once per distinct content, not once per copy. The
    # per-copy cost is exactly one codegen md5 projection plus narrow
    # (id, _cid) shuffles; no shingle array is ever built, stored, or
    # shuffled per copy. (A prior per-copy-shingle cut materialized
    # and semi-joined the full per-row array table: 2x the shuffle
    # bytes and 4x the wall of this shape at 512x replication — the
    # §8 rule: decide on small proxy rows, attach the decision after.)
    #
    # Side-prefixed hashes keep an exact cross-split duplicate from
    # tripping the banding join's self-pair filter. Hashing the RAW
    # text is a finer grouping than hashing the shingle set (e.g.
    # case-variant texts shingle identically but group apart) — any
    # grouping whose members share a text is correct, coarseness only
    # trades how much work collapses.
    def _ids(df, prefix):
        return df.select(
            F.col(id_col),
            F.concat(F.lit(prefix), F.md5(F.col(text_col))).alias("_cid"),
        )

    # The train id->content map feeds two consumers (the rep-key
    # aggregate and the final verdict join-back), so it materializes
    # once (localCheckpoint: RDD-owned blocks the ContextCleaner frees
    # when the caller drops the result; LAZY, so the blocks fill on
    # the caller's action instead of adding a build-time job — the
    # per-query fixed cost rule). It is the only per-row state and it
    # is ~50 bytes/row.
    train_ids = _ids(train_df, "t").transform(_materialize_lazy)

    def _rep_sets(df, ids):
        # One representative doc per content (scalar min-id aggregate,
        # narrow shuffle), its text fetched straight off the source
        # scan by the unique rep id, THEN tokenized: the shingle pass
        # and everything downstream touch only distinct contents.
        keys = ids.groupBy("_cid").agg(F.min(F.col(id_col)).alias(id_col))
        reps = df.select(F.col(id_col), F.col(text_col)).join(keys, id_col)
        # reps sit below the fetch join's exchange already — skip the
        # shingle helper's spread repartition (one fewer stage).
        return D.doc_shingle_sets(
            reps, text_col=text_col, id_col="_cid", n=n, spread=False
        )

    # tr_c is one shingle row per distinct train content with three
    # consumers (signatures + the verify join + nothing per-copy);
    # materializing it bounds recompute at distinct contents — in a
    # dup-free corpus that is corpus-sized, but it replaces a per-ROW
    # array checkpoint, so it is never worse than the per-copy shape.
    tr_c = _rep_sets(train_df, train_ids).transform(_materialize_lazy)
    ev_c = _rep_sets(eval_df, _ids(eval_df, "e"))
    cand = D.minhash_candidates_against(
        D.minhash_signatures_sets(tr_c, n_hashes=n_hashes, id_col="_cid"),
        D.minhash_signatures_sets(ev_c, n_hashes=n_hashes, id_col="_cid"),
        id_col="_cid",
        # Explicitly uncapped: this is a contamination GUARD — recall
        # dominates any join-size bound, and the eval index is small.
        max_bucket_size=None,
    )
    ht_max = (
        cand.join(
            tr_c.select(
                F.col("_cid").alias("new_id"),
                F.col("shingles").alias("_sh_t"),
            ),
            "new_id",
        )
        .join(
            ev_c.select(
                F.col("_cid").alias("corpus_id"),
                F.col("shingles").alias("_sh_e"),
            ),
            "corpus_id",
        )
        .select(
            F.col("new_id").alias("_cid"),
            (
                F.size(F.array_intersect("_sh_t", "_sh_e"))
                / F.size(F.array_union("_sh_t", "_sh_e"))
            ).cast("double").alias("_j"),
        )
        .groupBy("_cid")
        .agg(F.round(F.max("_j"), 9).alias("max_eval_jaccard"))
    )
    return (
        train_ids.join(ht_max, "_cid", "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("max_eval_jaccard"), F.lit(0.0)).alias(
                "max_eval_jaccard"
            ),
            (
                F.coalesce(F.col("max_eval_jaccard"), F.lit(0.0))
                >= F.lit(threshold)
            ).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Mixture (domain-weight) sampling
# ---------------------------------------------------------------------------

# Selection key prefix length (hex chars) used to bucket the per-source
# rank: 3 chars = 4096 lexicographic buckets. md5-hex compares bytewise,
# so ordering rows by (key, id) is consistent with grouping them by the
# key's first 3 chars — a row's global rank within its source equals
# (count of rows in strictly-smaller buckets) + (its rank inside its own
# bucket). That identity is what lets the quota-rank run 4096-way
# parallel instead of one full sort per source.
_MIX_BUCKET_HEX = 3


def _mix_bucket_histogram(
    df: DataFrame, source_col: str, seed: str, id_col: str
) -> dict:
    """One tiny aggregate: rows per (source, 3-hex-char key-prefix
    bucket). At most ``n_sources * 4096`` result rows regardless of
    corpus size (partial-aggregated map-side), so collecting it to the
    driver is O(sources), not O(rows)."""
    rows = (
        df.groupBy(
            F.col(source_col).alias("_src"),
            F.substring(_md5_key(id_col, seed), 1, _MIX_BUCKET_HEX).alias("_bkt"),
        )
        .agg(F.count(F.lit(1)).alias("_bc"))
        .collect()
    )
    hist: dict = {}
    for r in rows:
        hist.setdefault(r["_src"], {})[r["_bkt"]] = r["_bc"]
    return hist


def _quota_rank_sample(
    df: DataFrame,
    hist: dict,
    quotas: dict,
    source_col: str,
    seed: str,
    id_col: str,
) -> DataFrame:
    """Keep the ``quota_s`` smallest (md5-key, id) rows of each source,
    emitting each row's exact per-source rank as ``mix_rank`` — without
    ever sorting a whole source in one task.

    From the driver-side bucket histogram we derive, per source, the
    cumulative row count preceding each key-prefix bucket. Only buckets
    whose offset is still below the quota can contribute rows, so the
    broadcast offsets table doubles as the threshold filter: the inner
    join drops every row of a fully-past-quota bucket map-side, before
    any shuffle or sort. The surviving rows are ranked inside their own
    (source, bucket) partition — ~1/4096 of a source each — and the
    bucket offset restores the global rank. At 100 TB with a handful of
    sources this replaces a multi-TB single-task external sort per
    source with a 4096-way parallel sort of only the kept prefix.

    Membership and ranks are bit-identical to
    ``row_number() OVER (PARTITION BY source ORDER BY key, id) <= quota``
    (ties in the key share a bucket by construction, so the ``id``
    tiebreak never crosses a bucket boundary).
    """
    spark = df.sparkSession
    offsets = []
    for s, quota in quotas.items():
        off = 0
        for bkt in sorted(hist.get(s, {})):
            if off >= quota:
                break
            offsets.append((s, bkt, off, quota))
            off += hist[s][bkt]
    offsets_df = spark.createDataFrame(
        offsets, f"{source_col} string, _bkt string, _off long, _quota long"
    )
    key = _md5_key(id_col, seed)
    w_rank = Window.partitionBy(source_col, "_bkt").orderBy(key, F.col(id_col))
    return (
        df.withColumn("_bkt", F.substring(key, 1, _MIX_BUCKET_HEX))
        .join(F.broadcast(offsets_df), [source_col, "_bkt"])
        .withColumn(
            "mix_rank", (F.col("_off") + F.row_number().over(w_rank)).cast("long")
        )
        .where(F.col("mix_rank") <= F.col("_quota"))
        .drop("_bkt", "_off", "_quota")
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    seed: str = "s42",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic sample matching a target domain mixture: keep
    ``floor(scale * w_s)`` documents of each source ``s``, where
    ``scale = min_s(available_s / w_s)`` is the largest corpus-wide
    size at which every source can meet its weight without repetition.
    Sources missing from ``weights`` are dropped; a weight whose source
    has no rows collapses the sample to empty (the mixture is
    unsatisfiable without upsampling).

    Selection within a source is by md5-key rank, so the sample is a
    pure function of (corpus, weights, seed) — rerunning yields the
    same training mixture. One tiny (source, key-prefix-bucket)
    histogram aggregate sizes the quotas AND pre-filters past-quota
    buckets; the exact rank then runs 4096-way parallel per source via
    :func:`_quota_rank_sample` — no whole-source sort anywhere.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    norm = {s: w / total_w for s, w in weights.items()}
    scoped = df.where(F.col(source_col).isin(*norm.keys()))
    hist = _mix_bucket_histogram(scoped, source_col, seed, id_col)
    counts = {s: sum(b.values()) for s, b in hist.items()}
    scale = min(counts.get(s, 0) / w for s, w in norm.items() if w > 0)
    quotas = {s: int(scale * w) for s, w in norm.items()}
    return _quota_rank_sample(scoped, hist, quotas, source_col, seed, id_col)


def mixture_sample_with_repetition(
    df: DataFrame,
    weights: dict[str, float],
    target_total: int,
    source_col: str = "source",
    seed: str = "s42",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture WITH upsampling: emit ``floor(target_total
    * w_s / sum(w))`` rows for each source ``s``, repeating documents
    when the quota exceeds the source (the "repeat small domains for N
    epochs" move of multilingual/domain-balanced pretraining — the case
    :func:`mixture_sample` refuses by design). Every document of an
    upsampled source appears ``floor(quota/count)`` times, and the
    ``quota % count`` documents with the smallest md5 keys appear once
    more, so copies are spread maximally evenly and membership is a
    pure function of (corpus, weights, target_total, seed). A
    downsampled source (quota < count) degenerates to exactly
    :func:`mixture_sample`'s membership. Sources missing from
    ``weights`` are dropped; a weighted source with no rows emits
    nothing (there is nothing to repeat).

    Returns one row per emitted copy: (id columns..., ``epoch`` =
    0-based copy index). Scale shape: the only rank computed is over
    the ``quota % count`` boundary slice via the same bucket-distributed
    rank as :func:`mixture_sample` (no whole-source window); the
    repetition itself is a codegen ``explode(sequence(...))``.
    """
    if target_total <= 0:
        raise ValueError("target_total must be positive")
    if not weights:
        raise ValueError("weights must be non-empty")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    norm = {s: w / total_w for s, w in weights.items()}
    scoped = df.where(F.col(source_col).isin(*norm.keys()))
    hist = _mix_bucket_histogram(scoped, source_col, seed, id_col)
    counts = {s: sum(b.values()) for s, b in hist.items()}
    spark = df.sparkSession
    base_rows = []
    rem_quotas: dict[str, int] = {}
    for s, w in norm.items():
        c = counts.get(s, 0)
        if c == 0:
            continue
        quota = int(target_total * w)
        base_rows.append((s, quota // c))
        rem_quotas[s] = quota % c
    if not base_rows:
        raise ValueError("no weighted source has any rows")
    base_df = spark.createDataFrame(
        base_rows, f"{source_col} string, _base long"
    )
    extras = (
        _quota_rank_sample(scoped, hist, rem_quotas, source_col, seed, id_col)
        .select(F.col(id_col), F.lit(1).alias("_extra"))
    )
    copies = (
        scoped.join(F.broadcast(base_df), source_col)
        .join(extras, id_col, "left")
        .withColumn(
            "_n", F.col("_base") + F.coalesce(F.col("_extra"), F.lit(0))
        )
        .where(F.col("_n") > 0)
    )
    return (
        copies.select(
            *[c for c in copies.columns if c not in ("_base", "_extra", "_n")],
            F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_i"),
        )
        .withColumn("epoch", (F.col("_i") - 1).cast("long"))
        .drop("_i")
    )


def temperature_mixture_sample(
    df: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    seed: str = "s42",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture (multilingual-pretraining style):
    target weight of source s is proportional to count_s^alpha —
    alpha=1 keeps natural proportions, alpha=0 is uniform, values in
    between upweight small sources without repetition.

    Quotas are computed WITHOUT normalizing the weights (the mixture is
    scale-invariant, and skipping the normalizing sum keeps every
    operation — pow, divide, min, multiply, floor — IEEE
    correctly-rounded, so any engine derives bit-identical quotas from
    the same counts): scale = min_s(count_s / w_s), quota_s =
    floor(scale * w_s). Selection within a source is the same
    deterministic md5-rank as :func:`mixture_sample`.
    """
    hist = _mix_bucket_histogram(df, source_col, seed, id_col)
    hist.pop(None, None)
    counts = {s: sum(b.values()) for s, b in hist.items()}
    if not counts:
        raise ValueError("no sources present")
    # alpha=0.5 uses true sqrt (IEEE correctly-rounded everywhere);
    # libm pow(x, 0.5) may differ by an ulp across engines.
    powf = math.sqrt if alpha == 0.5 else (lambda c: c**alpha)
    weights = {s: powf(float(c)) for s, c in counts.items() if c > 0}
    scale = min(counts[s] / w for s, w in weights.items())
    quotas = {s: int(math.floor(scale * w)) for s, w in weights.items()}
    return _quota_rank_sample(df, hist, quotas, source_col, seed, id_col)


# ---------------------------------------------------------------------------
# Chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 200,
    overlap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-width character chunks with
    overlap (RAG-style windowing): chunk i covers
    ``[i·step, i·step + chunk_chars)`` with ``step = chunk_chars −
    overlap``. Every document yields at least one chunk (empty text →
    one empty chunk), and the final chunk may be short.

    explode over a generated start sequence + substring — codegen only,
    output rows ≈ n_chars/step per doc. At 100 TB the explode is the
    point (chunks feed an embedding stage); no shuffle is introduced
    here.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    step = chunk_chars - overlap
    text = F.col(text_col)
    starts = F.sequence(
        F.lit(0), F.greatest(F.length(text) - 1, F.lit(0)), F.lit(step)
    )
    return df.select(
        F.col(id_col), text.alias("_t"), F.explode(starts).alias("start")
    ).select(
        F.col(id_col),
        F.floor(F.col("start") / step).cast("long").alias("chunk_idx"),
        F.substring(F.col("_t"), F.col("start") + 1, chunk_chars).alias("chunk_text"),
        F.length(F.substring(F.col("_t"), F.col("start") + 1, chunk_chars))
        .cast("long")
        .alias("chunk_len"),
    )
