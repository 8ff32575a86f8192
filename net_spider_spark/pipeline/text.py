"""Text analysis over a document corpus: tokenization stats, quality
scoring, language-ID heuristic, fingerprinting.

All pure Catalyst expressions (split / higher-order array functions /
md5) — these run inside whole-stage codegen with zero Python per row,
so they scale linearly with executors at 100 TB. Each operator uses
only engine-portable expressions, so an external SQL engine can
recompute its output.
"""

from __future__ import annotations

import os

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from net_spider_spark.reliability import materialize as _materialize

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Deliberately small and fixed so the oracle SQL
# can mirror them verbatim.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "los", "las", "y", "que"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; empty strings filtered (BPE-ish regex
    variants belong in a follow-up pass).

    Deliberately NOT ``F.filter(F.split(...), t -> t != "")``: a
    higher-order function drops the whole enclosing projection out of
    whole-stage codegen into interpreted eval (measured: one task
    burned 18 min tokenizing 3.2 M docs that way). And deliberately not
    strip-then-split either: ``regexp_replace(text, '^\\s+|\\s+$', '')``
    costs 3.4x the split itself (measured at 2.56 M docs: 115 s vs
    34 s total) — the alternation forces a second full regex pass.
    ``array_remove(tokens, '')`` is a plain codegen expression that
    drops the boundary empties split produces, and is value-identical
    to strip-then-split for every input (incl. empty, all-whitespace,
    and NULL).
    """
    return F.array_remove(F.split(text, r"\s+"), "")


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token counting: n_tokens, n_distinct tokens,
    avg token length."""
    toks = tokens_col(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("avg_token_len"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality signals: length, punctuation ratio, stopword
    ratio, alpha ratio. (The C4/Gopher-style filters are thresholds over
    exactly these columns.)"""
    text = F.col(text_col)
    toks = tokens_col(text)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[,.!?;:]", ""))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (n_alpha / F.greatest(n_chars, F.lit(1))).alias("alpha_ratio"),
        (n_stop / n_tokens).alias("stopword_ratio"),
    )


# The "required word" list of the Gopher quality rules (Rae et al.
# 2021, arXiv:2112.11446 table A1): a document must contain at least
# ``min_required_hits`` of these to look like running English prose.
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_hits: int = 2,
) -> DataFrame:
    """The Gopher rule-based document filter (Rae et al. 2021, table
    A1 — public paper): word-count bounds, mean-word-length bounds,
    symbol-to-word ratio (``#`` and ``...``), bullet-/ellipsis-line
    fractions, fraction of words containing an alphabetic character,
    and the required-stopword test. Returns every signal plus the
    final ``keep`` verdict so a pipeline can tune thresholds without
    recomputing.

    Every signal is a plain string/regexp expression — no higher-order
    functions. The first version computed the line/word signals with
    ``F.filter``/``F.aggregate`` lambdas and measured 101 s over 320k
    docs on local[32]; the HOF-free formulations below measure 5-8 s on
    the same corpus (nested lambda trees evaluate interpreted per
    element — the same lesson as :func:`tokens_col`) and are
    value-identical:

    * mean word length — total non-whitespace chars / word count
      (tokens are maximal non-whitespace runs, so their length sum IS
      the stripped length);
    * bullet / ellipsis line fractions — ``(?m)`` anchored
      regexp_count, one match per qualifying line;
    * alpha-word fraction — every whitespace char doubled first, so
      each token is surrounded by its OWN spaces and the
      non-overlapping ``' [^A-Za-z ]+ '`` scan can't starve adjacent
      non-alpha tokens;
    * required-word hits — 8 token-delimited ``contains`` probes on
      the same doubled-space (lowercased) form, one per vocabulary
      word, counting each distinct word once exactly like the
      array_intersect it replaces.
    """
    text = F.col(text_col)
    toks = tokens_col(text)
    n_words = F.size(toks)
    n_words1 = F.greatest(n_words, F.lit(1))
    mean_word_len = (
        F.length(F.regexp_replace(text, r"\s", "")).cast("long") / n_words1
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis) / n_words1
    n_lines1 = F.greatest(F.size(F.split(text, "\n")), F.lit(1))
    bullet_frac = F.regexp_count(text, F.lit(r"(?m)^(- |\* )")) / n_lines1
    ellipsis_frac = F.regexp_count(text, F.lit(r"(?m)\.\.\.$")) / n_lines1
    spread = F.concat(
        F.lit(" "), F.regexp_replace(text, r"\s", "  "), F.lit(" ")
    )
    n_nonalpha = F.regexp_count(spread, F.lit(" [^A-Za-z ]+ "))
    alpha_frac = (n_words - n_nonalpha) / n_words1
    low = F.lower(spread)
    n_required = sum(
        F.when(low.contains(f" {w} "), 1).otherwise(0)
        for w in GOPHER_REQUIRED_WORDS
    )
    keep = (
        n_words.between(min_words, max_words)
        & mean_word_len.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= max_symbol_word_ratio)
        & (bullet_frac <= max_bullet_line_frac)
        & (ellipsis_frac <= max_ellipsis_line_frac)
        & (alpha_frac >= min_alpha_word_frac)
        & (n_required >= min_required_hits)
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("frac_bullet_lines"),
        ellipsis_frac.alias("frac_ellipsis_lines"),
        alpha_frac.alias("frac_alpha_words"),
        n_required.cast("long").alias("n_required_hits"),
        keep.alias("keep"),
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
    min_kept_lines: int = 1,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2 — public
    paper): keep only lines that end in terminal punctuation and have
    at least ``min_line_words`` words, drop lines carrying boilerplate
    markers (``javascript``, ``cookie``) or code braces, then drop the
    whole document if it contains ``lorem ipsum`` / a brace or retains
    fewer than ``min_kept_lines`` lines.

    Returns (id, clean_text, n_kept_lines, keep). Scan-shaped single
    projection like :func:`gopher_rules`; the per-line predicate runs
    in a ``F.filter`` HOF because the rule is genuinely per-line.
    """
    text = F.col(text_col)
    lo = F.lower(text)

    def _line_ok(ln: Column) -> Column:
        low = F.lower(ln)
        return (
            ln.rlike('[.!?"]$')
            & (F.size(tokens_col(ln)) >= min_line_words)
            & ~low.contains("javascript")
            & ~low.contains("cookie")
            & ~ln.contains("{")
        )

    kept = F.filter(F.split(text, "\n"), _line_ok)
    bad_doc = lo.contains("lorem ipsum") | text.contains("{")
    keep = ~bad_doc & (F.size(kept) >= min_kept_lines)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        keep.alias("keep"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language ID. Ties resolve in fixed priority
    order (en > de > fr > es > unknown) so results are deterministic
    and oracle-mirrorable."""
    toks = tokens_col(F.lower(F.col(text_col)))

    def contains(arr):
        # Closure factory: a 2-arg lambda would be read by PySpark as
        # an (element, index) higher-order-function signature.
        return lambda t: F.array_contains(arr, t)

    counts = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        counts[lang] = F.size(F.filter(toks, contains(arr)))
    pred = (
        F.when(
            (counts["en"] >= counts["de"])
            & (counts["en"] >= counts["fr"])
            & (counts["en"] >= counts["es"])
            & (counts["en"] > 0),
            F.lit("en"),
        )
        .when((counts["de"] >= counts["fr"]) & (counts["de"] >= counts["es"]) & (counts["de"] > 0), F.lit("de"))
        .when((counts["fr"] >= counts["es"]) & (counts["fr"] > 0), F.lit("fr"))
        .when(counts["es"] > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    return df.select(F.col(id_col), pred.alias("pred_lang"))


# GPT-2-style pretokenizer pattern: contractions, letter runs, digit
# runs, punctuation runs, whitespace. Both Spark (java.util.regex) and
# DuckDB (RE2) support \p{L}/\p{N}, so the oracle mirrors it verbatim.
BPE_ISH_PATTERN = r"'(?:s|d|m|t|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-style pretokenization via regexp_extract_all — the token
    counting that approximates an LLM tokenizer's unit count far better
    than whitespace splitting (punctuation and number runs separate)."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    toks = bpe_ish_tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        # NOTE: `F.transform(toks, F.trim)` silently misbehaves — trim's
        # optional 2nd param makes it look like an (element, index)
        # lambda, so the index arrives as the trim character set.
        F.size(F.array_distinct(F.transform(toks, lambda t: F.trim(t))))
        .cast("long")
        .alias("n_distinct_bpe_tokens"),
    )


# Symbol separator for the learned-BPE sequence encoding: a word's
# symbol sequence is stored with DOUBLE separators at every boundary —
# SEP SEP s1 SEP SEP s2 ... SEP SEP — so "merge adjacent pair (a, b)"
# is the literal string replace SEP+a+SEP+SEP+b+SEP -> SEP+ab+SEP.
# The pattern consumes only the INNER half of each flanking boundary
# (the second SEP of the left boundary, the first SEP of the right),
# leaving the outer halves in place; combined with replace() scanning
# left-to-right and resuming AFTER each replacement, adjacent
# occurrences in a run (e.g. "aaaa" under merge (a,a)) remain
# matchable and the result is exactly the greedy non-overlapping merge
# of the reference BPE algorithm (Sennrich et al. 2016, learn_bpe.py)
# in both Spark and DuckDB without any per-row Python. A single-SEP
# encoding would consume the shared boundary and yield [aa,a,a] for
# "aaaa" instead of [aa,aa].
BPE_SEP = "\x1f"


def bpe_word_seq(word: Column) -> Column:
    """A pretoken as its initial BPE symbol sequence: one symbol per
    character, encoded as the double-SEP-wrapped string (see
    BPE_SEP)."""
    sep2 = BPE_SEP + BPE_SEP
    return F.concat(
        F.lit(sep2), F.regexp_replace(word, "(.)", "$1" + sep2)
    )


def _seq_symbols(seq: Column) -> Column:
    return F.filter(F.split(seq, BPE_SEP), lambda x: x != F.lit(""))


def _driver_bpe(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Exact sequential BPE on a collected (pretoken, freq) table —
    the Sennrich learn_bpe incremental algorithm: pair counts plus an
    inverted pair->words index so each merge touches only the words
    containing it, and a lazy-invalidation heap so the argmax is
    O(log P) instead of a full scan per merge. Tie-break identical to
    the distributed path: (count desc, lhs asc, rhs asc)."""
    import heapq
    from collections import Counter, defaultdict

    vocab = [(tuple(w), f) for w, f in word_freqs]
    stats: Counter = Counter()
    index: defaultdict = defaultdict(set)
    for wi, (syms, f) in enumerate(vocab):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            stats[p] += f
            index[p].add(wi)
    heap = [(-c, a, b) for (a, b), c in stats.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges and heap:
        negc, a, b = heapq.heappop(heap)
        c = stats.get((a, b), 0)
        if c <= 0:
            continue
        if -negc != c:  # stale heap entry; re-queue at true count
            heapq.heappush(heap, (-c, a, b))
            continue
        merges.append((len(merges) + 1, a, b, a + b, c))
        touched: Counter = Counter()
        for wi in list(index[(a, b)]):
            syms, f = vocab[wi]
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new = tuple(out)
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] -= f
                touched[p] += 1
                index[p].discard(wi)
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                stats[p] += f
                touched[p] += 1
                index[p].add(wi)
            vocab[wi] = (new, f)
        del stats[(a, b)]
        for p in touched:
            cc = stats.get(p, 0)
            if cc > 0:
                heapq.heappush(heap, (-cc, p[0], p[1]))
            elif p in stats and cc <= 0:
                del stats[p]
    return merges


def bpe_learn(
    df: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    batch_k: int = 1024,
    driver_max_words: int = 2_000_000,
    driver_max_bytes: int = 256 << 20,
) -> list[tuple[int, str, str, str, int]]:
    """Learn byte-pair-encoding merge rules from a corpus (Sennrich et
    al. 2016): start from characters, repeatedly merge the most
    frequent adjacent symbol pair. Returns
    ``[(rank, lhs, rhs, merged, pair_count), ...]`` — at most
    ``n_merges`` rules (fewer if the corpus runs out of pairs).

    Distribution shape for 100 TB: the corpus is scanned ONCE, into a
    (pretoken, frequency) table — bounded by the vocabulary, not the
    corpus. Learning then runs on that word table alone in ROUNDS:
    each round is ONE grouped aggregate over exploded adjacent pairs
    (map-side combinable; key space = symbol-pair vocabulary) pulling
    the exact sorted top-``batch_k`` pair counts to the driver, which
    then accepts as many merges from the head of that table as are
    PROVABLY what the sequential algorithm would pick (see below),
    and applies them as one chained literal-replace pass. A realistic
    32k-merge vocabulary on Zipfian text completes in tens of rounds
    instead of 32k sequential argmax jobs; driver state stays
    O(batch_k + vocabulary), never data.

    Batch-acceptance proof obligations (exact sequential parity, not a
    heuristic): scanning the sorted (count desc, lhs, rhs) table, a
    pair is accepted while
    (1) it shares no symbol with any merge accepted earlier in the
        round — disjoint pairs' counts are untouched by those merges;
    (2) its count strictly exceeds the table's top-K cutoff — pairs
        outside the collected table (and the new pairs bounded by
        them) then cannot beat it;
    (3) no pair anywhere in the table with the SAME count touches an
        already-used symbol — such a pair (or a new pair it bounds,
        e.g. (x, ab) created by merging (a,b), whose count is at most
        the old count of the dirty pair (x, a)) could tie it and win
        the lexicographic tie-break;
    and the round stops after accepting a merge whose merged string
    already exists as a symbol (tracked as a driver-side superset:
    initial distinct characters plus every merged string) — only then
    can an existing pair's count GROW, voiding the sorted-order
    bounds. The worst case (adversarial ties) degrades to one merge
    per round, i.e. exactly the sequential algorithm.

    Ties break by (count desc, lhs asc, rhs asc) — binary string order,
    reproducible across engines. Pretokens containing the internal
    separator byte 0x1F are excluded from learning (and from
    :func:`bpe_encode_stats`), so the separator encoding is safe on
    arbitrary text.

    Evaluation contract: ~1 Spark job per accepted BATCH at call time
    (plus one upfront vocabulary job). Like the reference algorithm,
    this is an offline vocabulary build, not a per-query path.

    Driver fast path (same guarded idiom as the graph family): the
    (pretoken, freq) table is VOCABULARY-bounded — Zipf caps it at a
    few million entries even for a 100 TB corpus — so when it fits
    under ``driver_max_words`` / ``driver_max_bytes`` (measured by one
    tiny aggregate), it is collected and the exact incremental
    Sennrich algorithm (:func:`_driver_bpe`: heap argmax + inverted
    pair index) learns ALL ``n_merges`` rules with ZERO further Spark
    jobs — this is how production BPE trainers run, and it makes a
    32k-merge vocabulary a seconds-scale driver computation. Above
    the guard, the distributed round loop below is exact but degrades
    toward one merge per round when the top pairs chain on shared
    symbols (English letter pairs do); set the guards to taste.
    """
    global _LAST_LEARN_ROUNDS, _LAST_LEARN_PATH
    sep = BPE_SEP
    word_tbl = (
        df.select(F.explode(bpe_ish_tokens(F.col(text_col))).alias("w"))
        .where(~F.col("w").contains(sep))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .transform(_materialize)
    )
    size_row = word_tbl.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.octet_length("w")), F.lit(0)).alias("nbytes"),
    ).first()
    if (
        int(size_row["n"]) <= driver_max_words
        and int(size_row["nbytes"]) <= driver_max_bytes
    ):
        collected = [
            (r["w"], int(r["freq"])) for r in word_tbl.toLocalIterator()
        ]
        _LAST_LEARN_ROUNDS = 0
        _LAST_LEARN_PATH = "driver"
        return _driver_bpe(collected, n_merges)
    _LAST_LEARN_PATH = "distributed"
    words = word_tbl.select(
        bpe_word_seq(F.col("w")).alias("seq"), "freq"
    ).transform(_materialize)
    # Superset of the live symbol set, maintained on the driver: the
    # initial distinct characters (one tiny job over the word table)
    # plus every merged string. Symbols whose occurrences all merge
    # away stay in the set — harmless, membership only STOPS a batch
    # early (condition 4), never accepts a wrong merge.
    symbol_superset = {
        r["s"]
        for r in words.select(
            F.explode(_seq_symbols(F.col("seq"))).alias("s")
        )
        .distinct()
        .collect()
    }
    merges: list[tuple[int, str, str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        syms = _seq_symbols(F.col("seq"))
        # Adjacent overlapping pairs, weighted by word frequency; the
        # sequence() guard avoids Spark's descending sequence(1, 0) on
        # single-symbol words.
        idx = F.when(
            F.size(syms) >= 2, F.sequence(F.lit(1), F.size(syms) - 1)
        ).otherwise(F.array().cast("array<int>"))
        pair = F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(syms, i).alias("s1"),
                    F.element_at(syms, i + F.lit(1)).alias("s2"),
                ),
            )
        )
        top = (
            words.select(pair.alias("p"), "freq")
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("s1"), F.asc("s2"))
            .limit(batch_k)
            .collect()
        )
        rounds += 1
        if not top:
            break
        table = [(r["s1"], r["s2"], int(r["c"])) for r in top]
        cutoff = table[-1][2] if len(table) == batch_k else 0
        # counts of dirty-equal lookahead: count -> symbols touched
        used: set[str] = set()
        accepted: list[tuple[str, str, int]] = []
        for s1, s2, c in table:
            if len(merges) + len(accepted) >= n_merges:
                break
            # The table HEAD is the exact argmax of the exact sorted
            # top-K, so the first acceptance of a round needs no proof
            # — conditions (1)-(3) only guard against the effects of
            # merges accepted earlier in the SAME round.
            if accepted:
                if s1 in used or s2 in used:
                    break  # (1) dirty pair: current count unknown
                if c <= cutoff:
                    break  # (2) pairs below the cutoff are unbounded
                if any(
                    cc == c and (t1 in used or t2 in used)
                    for t1, t2, cc in table
                ):
                    break  # (3) equal-count tie against a dirty pair
            accepted.append((s1, s2, c))
            used.update((s1, s2))
            merged_collides = s1 + s2 in symbol_superset
            used.add(s1 + s2)
            symbol_superset.add(s1 + s2)
            if merged_collides:
                # (4) merged string collides with an existing symbol:
                # pair counts involving it can grow — stop the batch.
                break
        col = F.col("seq")
        for s1, s2, c in accepted:
            merges.append((len(merges) + 1, s1, s2, s1 + s2, c))
            col = F.replace(
                col,
                F.lit(sep + s1 + sep + sep + s2 + sep),
                F.lit(sep + s1 + s2 + sep),
            )
        words = words.withColumn("seq", col)
        if rounds % 4 == 0:
            words = words.transform(_materialize)
    _LAST_LEARN_ROUNDS = rounds
    return merges


# Diagnostics: how many pair-count rounds (Spark aggregate jobs) the
# most recent bpe_learn call ran, and which path it took
# ("driver" fast path under the vocab-size guard, else "distributed").
_LAST_LEARN_ROUNDS = 0
_LAST_LEARN_PATH = ""


def bpe_apply_merges(word: Column, merges: Sequence[tuple]) -> Column:
    """Tokenize one pretoken column under learned merges: chained
    literal replaces over the SEP-wrapped symbol string, in merge-rank
    order — whole-stage-codegen expressions, no UDF. Returns the
    symbol array."""
    sep = BPE_SEP
    s = bpe_word_seq(word)
    for m in merges:
        _, lhs, rhs, merged = m[0], m[1], m[2], m[3]
        s = F.replace(
            s,
            F.lit(sep + lhs + sep + sep + rhs + sep),
            F.lit(sep + merged + sep),
        )
    return _seq_symbols(s)


# Above this many merges the expression-chain encoder switches to the
# Arrow path: the chain builds one nested replace() node per merge, so
# a real 32k-merge vocabulary would hand Catalyst a 32k-deep expression
# tree inside a lambda — minutes of analysis time and a codegen
# fallback — while the Arrow encoder's cost per DISTINCT word is
# independent of vocabulary size.
BPE_ENCODE_EXPR_MAX_MERGES = 64


def _bpe_merge_pass(syms: list, a: str, b: str) -> list:
    # One greedy left-to-right non-overlapping pass of merge (a, b) —
    # the exact semantics of the literal separator-encoded replace()
    # in bpe_apply_merges.
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_encode_word(word: str, ranks: dict, cache: dict) -> tuple:
    """Encode one pretoken under the learned merges, equivalent to the
    rank-order replace chain but O(passes * len) instead of
    O(n_merges * len): repeatedly apply the lowest-rank pair present.

    Equivalence: a greedy non-overlapping pass leaves no occurrence of
    its own pair behind, and every adjacency it creates involves the
    NEW symbol a+b, which can only participate in merges learned after
    (a, b) — i.e. strictly higher ranks. So "always take the lowest
    rank present" visits merges in exactly the chain's rank order,
    skipping the inapplicable ones. Pinned against the expression
    chain by a Hypothesis parity test (test_property_bpe.py).
    """
    got = cache.get(word)
    if got is not None:
        return got
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best = (syms[i], syms[i + 1])
        if best is None:
            break
        syms = _bpe_merge_pass(syms, best[0], best[1])
    enc = tuple(syms)
    cache[word] = enc
    return enc


def bpe_encode_stats(
    df: DataFrame,
    merges: Sequence[tuple],
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "auto",
) -> DataFrame:
    """Per-document token statistics under a LEARNED BPE vocabulary
    (from :func:`bpe_learn`): (id, n_tokens, n_distinct_tokens).
    This is the honest token counter behind curation budgets
    (curate_pack / mixtures) — the heuristic pretokenizer
    (:func:`bpe_token_stats`) over-counts exactly the frequent words a
    real vocab merges into single tokens.

    ``method``: ``"expr"`` applies the merge chain as literal replaces
    (whole-stage codegen, zero Python — but one expression node per
    merge, so only viable for small vocabularies); ``"arrow"`` runs a
    rank-based greedy encoder inside mapInPandas with a per-partition
    distinct-word cache (vocabulary-size-independent plan — the 32k-
    merge production shape); ``"auto"`` picks expr at or below
    ``BPE_ENCODE_EXPR_MAX_MERGES`` merges. Both paths share the Spark-
    side pretokenizer, so they agree byte-for-byte (parity-tested).

    Pretokens containing the 0x1F separator byte pass through as
    single unmergeable tokens, mirroring their exclusion in learning.
    """
    if method not in ("auto", "expr", "arrow"):
        raise ValueError(f"unknown bpe_encode_stats method: {method!r}")
    if method == "auto":
        method = (
            "expr" if len(merges) <= BPE_ENCODE_EXPR_MAX_MERGES
            else "arrow"
        )
    sep = BPE_SEP
    if method == "arrow":
        return _bpe_encode_stats_arrow(df, merges, text_col, id_col)
    toks = F.filter(
        bpe_ish_tokens(F.col(text_col)),
        lambda w: ~w.contains(sep),
    )
    all_syms = F.flatten(
        F.transform(toks, lambda w: bpe_apply_merges(w, merges))
    )
    raw = F.filter(
        bpe_ish_tokens(F.col(text_col)), lambda w: w.contains(sep)
    )
    return df.select(
        F.col(id_col),
        (F.size(all_syms) + F.size(raw)).cast("long").alias("n_tokens"),
        F.size(
            F.array_distinct(F.concat(all_syms, raw))
        ).cast("long").alias("n_distinct_tokens"),
    )


def _bpe_encode_stats_arrow(
    df: DataFrame,
    merges: Sequence[tuple],
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The scale path for :func:`bpe_encode_stats`: pretokenize in
    Spark (the SAME regexp as the expr path, so there is no Python
    regex to keep in sync), then apply the learned merges per pretoken
    inside an Arrow-batched mapInPandas. The rank table broadcasts in
    the task closure (a 32k-merge vocab is ~1 MB); each partition
    encodes every DISTINCT word once and serves repeats from a dict —
    the working set is the vocabulary, not the corpus.
    """
    import pandas as pd

    sep = BPE_SEP
    id_field = df.select(id_col).schema.fields[0]
    projected = df.select(
        F.col(id_col), bpe_ish_tokens(F.col(text_col)).alias("_toks")
    )
    ranks = {(m[1], m[2]): m[0] for m in merges}

    def encode_partition(batches):
        cache: dict = {}
        for pdf in batches:
            n_tok, n_dis = [], []
            for toks in pdf["_toks"]:
                if toks is None:
                    n_tok.append(None)
                    n_dis.append(None)
                    continue
                total = 0
                distinct: set = set()
                for w in toks:
                    if sep in w:
                        total += 1
                        distinct.add(w)
                    else:
                        enc = _bpe_encode_word(w, ranks, cache)
                        total += len(enc)
                        distinct.update(enc)
                n_tok.append(total)
                n_dis.append(len(distinct))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": pd.array(n_tok, dtype="Int64"),
                    "n_distinct_tokens": pd.array(n_dis, dtype="Int64"),
                }
            )

    out_schema = T.StructType(
        [
            id_field,
            T.StructField("n_tokens", T.LongType()),
            T.StructField("n_distinct_tokens", T.LongType()),
        ]
    )
    return projected.mapInPandas(encode_partition, schema=out_schema)


def corpus_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The one-row corpus card a training-data report opens with:
    document count, total/min/max whitespace tokens, corpus-wide
    distinct token count, and the type-token ratio. Two aggregates
    (per-doc counts reduce map-side; the distinct count is one
    explode + distinct — exact, because corpus cards get quoted and
    sketches belong in :mod:`pipeline.sketch` when approximation is
    acceptable)."""
    toks = tokens_col(F.col(text_col))
    per_doc = df.select(F.size(toks).cast("long").alias("_n"))
    base = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").alias("total_tokens"),
        F.min("_n").alias("min_tokens"),
        F.max("_n").alias("max_tokens"),
    )
    distinct = (
        df.select(F.explode(toks).alias("_t"))
        .agg(F.count_distinct("_t").alias("distinct_tokens"))
    )
    return base.crossJoin(distinct).select(
        "n_docs", "total_tokens", "min_tokens", "max_tokens",
        "distinct_tokens",
        (F.col("distinct_tokens") / F.greatest("total_tokens", F.lit(1)))
        .alias("type_token_ratio"),
    )


def token_length_histogram(
    df,
    bucket: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document-length distribution in fixed ``bucket``-token bins:
    (bucket_start, n_docs, total_tokens) — the histogram behind every
    'length distribution' panel of a corpus report. One hash aggregate
    on the bounded bin key; integer arithmetic end to end."""
    n = F.size(tokens_col(F.col(text_col))).cast("long")
    b = (F.floor(n / bucket) * bucket).cast("long")
    return (
        df.select(b.alias("bucket_start"), n.alias("_n"))
        .groupBy("bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("total_tokens"),
        )
    )


def wordpiece_vocab(
    df: DataFrame,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frequency-based WordPiece-style vocabulary: every single
    character seen in the corpus (the char-fallback floor that makes
    greedy encoding total) plus the ``vocab_size`` most frequent
    multi-character substrings (length 2..``max_piece_len``) of the
    whitespace words, occurrences weighted by word frequency.

    Returns (piece, n_occurrences, is_char). Deterministic: the
    multi-char top-V ranks by (occurrences DESC, piece ASC) through
    orderBy+limit — TakeOrderedAndProject, per-partition top-V, only V
    rows cross the wire. This is the frequency-selection simplification
    of WordPiece (Wu et al. 2016 selects by likelihood gain); the
    ENCODER below is the standard WordPiece greedy longest-match.

    Scale shape: one word-count aggregate, one substring explode over
    the DISTINCT word table (bounded by vocabulary size x word length x
    max_piece_len, not by corpus size), two bounded top-V/char
    aggregates.
    """
    w = F.col("word")
    words = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # all (i, l) substrings, l in 2..max_piece_len, truncated tails
    # excluded (they would double-count shorter pieces)
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.lit(2), F.lit(max_piece_len)),
                    lambda l: F.when(
                        i + l - 1 <= F.length(w), F.substr(w, i, l)
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    multi = (
        words.select(F.explode(pieces).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("piece"))
        .limit(vocab_size)
        .select("piece", "n_occurrences", F.lit(False).alias("is_char"))
    )
    chars = (
        words.select(
            F.explode(F.split(w, "(?!^)")).alias("piece"), "freq"
        )
        .where(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.sum("freq").alias("n_occurrences"))
        .select("piece", "n_occurrences", F.lit(True).alias("is_char"))
    )
    return chars.unionByName(multi)


def _wp_encode_word(word: str, vocab: frozenset, max_len: int) -> int:
    """Greedy longest-match piece count (WordPiece inference): at each
    position take the longest vocab piece; an unseen character (only
    possible when encoding a corpus the vocab wasn't built from)
    consumes one position as one piece."""
    pos, n, length = 0, 0, len(word)
    while pos < length:
        for l in range(min(max_len, length - pos), 1, -1):
            if word[pos:pos + l] in vocab:
                pos += l
                break
        else:
            pos += 1  # single char: in-vocab by construction, or unseen
        n += 1
    return n


def wordpiece_encode_stats(
    df: DataFrame,
    vocab: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_words, n_pieces): per document, the whitespace word
    count and the total greedy longest-match WordPiece count under
    ``vocab`` (:func:`wordpiece_vocab` pieces, collected — the vocab is
    bounded by construction, so shipping it in the task closure is the
    scale-correct move, exactly like the BPE rank table). Arrow-batched
    mapInPandas with a per-partition distinct-word cache: the encode
    working set is the vocabulary, not the corpus.
    """
    import pandas as pd

    vset = frozenset(vocab)
    max_len = max((len(p) for p in vset), default=1)
    id_field = df.select(id_col).schema.fields[0]
    projected = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )

    def encode_partition(batches):
        cache: dict = {}
        for pdf in batches:
            n_words, n_pieces = [], []
            for toks in pdf["_toks"]:
                if toks is None:
                    n_words.append(None)
                    n_pieces.append(None)
                    continue
                total = 0
                for word in toks:
                    got = cache.get(word)
                    if got is None:
                        got = _wp_encode_word(word, vset, max_len)
                        cache[word] = got
                    total += got
                n_words.append(len(toks))
                n_pieces.append(total)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": pd.array(n_words, dtype="Int64"),
                    "n_pieces": pd.array(n_pieces, dtype="Int64"),
                }
            )

    out_schema = T.StructType(
        [
            id_field,
            T.StructField("n_words", T.LongType()),
            T.StructField("n_pieces", T.LongType()),
        ]
    )
    return projected.mapInPandas(encode_partition, schema=out_schema)


def quality_filter(
    df: DataFrame,
    min_chars: int = 50,
    max_punct_ratio: float = 0.2,
    min_alpha_ratio: float = 0.5,
    min_stopword_ratio: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher/C4-style quality gate: thresholds over quality_scores.
    Returns the surviving rows of ``df`` (all columns)."""
    scores = quality_scores(df, text_col=text_col, id_col=id_col)
    keep = scores.where(
        (F.col("n_chars") >= min_chars)
        & (F.col("punct_ratio") <= max_punct_ratio)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")


# Fixed-point grid for the quality-model gradient quantization: per-row
# gradient contributions are floored onto 1/2^20 steps and summed as
# INTEGERS, so the distributed sum is exact and order-independent —
# the whole training run is bit-reproducible on any partitioning, any
# engine (the DuckDB oracle replays it as unrolled CTEs).
QMODEL_SCALE = float(1 << 20)


def _qmodel_sigmoid(t: Column) -> Column:
    # Rational sigmoid 0.5 + 0.5 * t / (1 + |t|): same shape as the
    # logistic, but built from +,*,/,abs only — IEEE-754 correctly
    # rounded everywhere, unlike exp(), whose last-ulp behavior varies
    # by libm and would break cross-engine reproducibility.
    return F.lit(0.5) + F.lit(0.5) * t / (F.lit(1.0) + F.abs(t))


def _qmodel_features(scores: DataFrame) -> list[Column]:
    # [bias, n_chars/1000, punct_ratio, alpha_ratio, stopword_ratio] —
    # every non-bias feature is integer counts + ONE division, so both
    # engines produce identical doubles.
    return [
        F.lit(1.0),
        F.col("n_chars").cast("double") / F.lit(1000.0),
        F.col("punct_ratio"),
        F.col("alpha_ratio"),
        F.col("stopword_ratio"),
    ]


def quality_model_train(
    df: DataFrame,
    n_steps: int = 8,
    lr: float = 2.0,
    min_chars: int = 100,
    max_punct_ratio: float = 0.2,
    min_alpha_ratio: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[float]:
    """Train a logistic-style quality classifier over the
    :func:`quality_scores` features by full-batch gradient descent,
    each step ONE grouped aggregate over the corpus — the C4/DCLM move
    of replacing hard thresholds with a smooth model score, here
    distilled from the heuristic gate itself (label = the
    ``quality_filter`` predicate), so it needs no external labels.

    Determinism is the design center: per-row gradient contributions
    are floored onto a 1/2^20 fixed-point grid and summed as integers
    (exact, order-independent — safe under any partitioning), the
    sigmoid is a rational approximation (no libm exp), and the weight
    update sequence is fixed — so Spark, the DuckDB oracle, and the
    numpy spec in tests produce bit-identical weights.

    Scale: n_steps scans of the 5-column feature table (derive it once
    — the function materializes it via localCheckpoint; unreplicated
    blocks, executor loss fails the step instead of recomputing).
    Driver state is 5 floats. Returns the weight list.
    """
    from net_spider_spark import sizing

    scores = quality_scores(df, text_col=text_col, id_col=id_col)
    label = (
        (F.col("n_chars") >= min_chars)
        & (F.col("punct_ratio") <= max_punct_ratio)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
    ).cast("double")
    feats = _qmodel_features(scores)
    base = scores.select(
        label.alias("_y"),
        *[fx.alias(f"_x{i}") for i, fx in enumerate(feats)],
    )
    if os.environ.get("NET_SPIDER_LOCAL_TRAIN", "1") != "0":
        # Driver fast path (guide §1.3): the feature table is 6
        # float64 columns, so when it fits the driver budget ONE
        # toPandas replaces the localCheckpoint + count + n_steps
        # aggregate actions (~0.15-0.2 s of scheduling each on
        # local[32]). The fixed-point design makes this provably
        # bit-identical, not approximately: per-row float64 ops (the
        # weight fold, the rational sigmoid, the gradient product and
        # floor) are replayed element-for-element below, and the only
        # cross-row reduction is a sum of INTEGERS on the 1/2^20 grid
        # — exact and order-independent by construction, which is the
        # same property that already makes the distributed sum safe
        # under any partitioning. Pinned by
        # test_qmodel_local_train_matches_distributed.
        base = base.persist()
        try:
            n = base.count()
            if n and sizing.fits_in_driver(base, n, tag="qmodel_train"):
                pdf = base.toPandas()
                return _qmodel_train_local(pdf, len(feats), n_steps, lr)
        finally:
            base.unpersist(blocking=False)
        if n == 0:
            raise ValueError("empty corpus")
        base = base.transform(_materialize)
    else:
        base = base.transform(_materialize)
        n = base.count()
    if n == 0:
        raise ValueError("empty corpus")
    w = [0.0] * len(feats)
    for _ in range(n_steps):
        t = F.lit(w[0]) * F.col("_x0")
        for i in range(1, len(w)):
            t = t + F.lit(w[i]) * F.col(f"_x{i}")
        resid = _qmodel_sigmoid(t) - F.col("_y")
        sums = base.agg(
            *[
                F.sum(
                    F.floor(
                        (resid * F.col(f"_x{i}")) * F.lit(QMODEL_SCALE)
                    ).cast("long")
                ).alias(f"g{i}")
                for i in range(len(w))
            ]
        ).first()
        for i in range(len(w)):
            upd = (float(sums[f"g{i}"]) / QMODEL_SCALE) / float(n)
            w[i] = w[i] - lr * upd
    return w


def _qmodel_train_local(pdf, n_feats: int, n_steps: int, lr: float):
    """The n_steps gradient loop over the COLLECTED feature table,
    replaying the aggregate's per-element float64 ops exactly: the
    left-assoc weight fold, the rational sigmoid's ``0.5 + (0.5*t) /
    (1+|t|)`` op order, ``floor((resid*x) * SCALE)`` onto the integer
    grid, and an int64 sum (exact — order cannot matter)."""
    import numpy as np

    y = pdf["_y"].to_numpy(dtype=np.float64)
    X = [pdf[f"_x{i}"].to_numpy(dtype=np.float64) for i in range(n_feats)]
    n = len(y)
    w = [0.0] * n_feats
    for _ in range(n_steps):
        t = w[0] * X[0]
        for i in range(1, n_feats):
            t = t + w[i] * X[i]
        sig = 0.5 + 0.5 * t / (1.0 + np.abs(t))
        resid = sig - y
        for i in range(n_feats):
            g = int(
                np.floor((resid * X[i]) * QMODEL_SCALE)
                .astype(np.int64)
                .sum()
            )
            upd = (float(g) / QMODEL_SCALE) / float(n)
            w[i] = w[i] - lr * upd
    return w


def quality_model_scores(
    df: DataFrame,
    weights: Sequence[float] | None = None,
    n_steps: int = 8,
    lr: float = 2.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with the trained quality model:
    (id, quality_score, pred_good). ``weights=None`` trains first
    (:func:`quality_model_train` — n_steps aggregates), then scoring
    is one codegen projection over the corpus. ``quality_score`` is
    rounded to 6 dp (reproducible; well above any cross-engine float
    noise), ``pred_good`` is score >= 0.5."""
    if weights is None:
        weights = quality_model_train(
            df, n_steps=n_steps, lr=lr, text_col=text_col, id_col=id_col
        )
    scores = quality_scores(df, text_col=text_col, id_col=id_col)
    feats = _qmodel_features(scores)
    t = F.lit(weights[0]) * feats[0]
    for i in range(1, len(weights)):
        t = t + F.lit(weights[i]) * feats[i]
    p = _qmodel_sigmoid(t)
    return scores.select(
        F.col(id_col),
        F.round(p, 6).alias("quality_score"),
        (p >= F.lit(0.5)).alias("pred_good"),
    )


def common_ngrams(
    df: DataFrame,
    n: int = 3,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide most-common word n-grams by DOCUMENT frequency —
    the boilerplate detector (navigation chrome, license headers, and
    template text show up as n-grams shared by thousands of docs;
    feed the result to a removal/flag pass).

    One explode of gram positions + one distinct-doc count per gram +
    a global top-k. The top-k is a rank over gram counts, not rows —
    cardinality is bounded by the vocabulary, and Spark's TakeOrdered
    handles the final k without a full sort of it. Ties break by gram
    text so the cut is deterministic.

    Gram construction deliberately does NOT reuse
    ``dedup.doc_shingle_sets``: its per-doc array shape builds grams
    with a ``transform`` lambda, and higher-order functions are
    CodegenFallback — interpreted per gram, ~130 us each, 550 s at the
    512x scale artifact. Here grams only exist to be counted, so
    ``explode(sequence(...))`` + a plain ``slice``/``concat_ws``
    projection (both whole-stage codegen) builds the same strings at
    codegen speed, and per-doc dedup folds into the count-distinct
    aggregate (map-side partial on (gram, doc)). Measured 16.2 s ->
    1.4 s at 16x replication, same rows.
    """
    from pyspark.sql.window import Window

    par = df.sparkSession.sparkContext.defaultParallelism
    toks = tokens_col(F.lower(F.col(text_col)))
    with_toks = df.repartition(par).select(
        F.col(id_col), toks.alias("_toks")
    )
    t = F.col("_toks")
    # guard: sequence(1, stop) DESCENDS when stop < 1 — short docs must
    # produce zero positions, not [1, 0]
    positions = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = with_toks.select(
        F.col(id_col), t.alias("_t"), F.explode(positions).alias("_i")
    ).select(
        F.col(id_col),
        F.concat_ws(" ", F.slice(F.col("_t"), F.col("_i"), n)).alias(
            "ngram"
        ),
    )
    counts = grams.groupBy("ngram").agg(
        F.countDistinct(F.col(id_col)).alias("doc_freq")
    )
    return (
        counts.orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(top_k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("doc_freq"), F.asc("ngram")))
            .cast("long"),
        )
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 keyword retrieval: score every document against a fixed
    term list, return the top_k (doc_id, score, rank).

    Built to be bit-reproducible across engines: per-term tf columns
    come out of ONE projection (no explode, so the per-document score
    is a FIXED-ORDER sum of float terms), doc length and its corpus
    average are integer-sum-derived (exact), and idf uses the Lucene
    formulation ln(1 + (N - df + 0.5)/(df + 0.5)). Corpus stats (N,
    avgdl, per-term df) are one aggregate cross-joined back as a
    1-row broadcast — no driver round-trip, so the plan stays lazy.

    Scale: one corpus scan for stats + one for scoring; top-k is a
    TakeOrdered, not a global sort.

    Evaluation contract: the tokenize pass is materialized EAGERLY at
    call time (``localCheckpoint(eager=True)``) — building the plan
    runs Spark jobs even if the caller never acts on the result, and
    caller predicates cannot prune below the checkpoint boundary.
    Checkpoint blocks are not replicated: on a cluster that loses an
    executor (failure or dynamic-allocation decommission) a downstream
    action fails instead of recomputing — re-call on that failure, or
    swap for persist()+finally-unpersist where recomputation matters.
    """
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    toks = tokens_col(F.lower(F.col(text_col)))

    # tf as size(toks) - size(array_remove(toks, w)): array_remove is a
    # plain codegen expression, unlike F.filter(toks, ...) whose
    # higher-order function drops the projection to interpreted eval
    # (measured at 512x replication: 114 s -> the tokenizer's own
    # docstring warning, re-learned).
    #
    # explode(array(toks)) is a Generate-node materialization barrier
    # guaranteeing the split evaluates once per row regardless of
    # optimizer heuristics. CollapseProject's cheap-expression check
    # usually protects a multi-referenced alias anyway (measured: the
    # barrier alone moved 191 s -> 184 s at 512x), so this is
    # belt-and-braces; the real costs were the strip regex (fixed in
    # tokens_col) and the duplicate scan (fixed by the per_doc persist
    # below: 191 s -> 57 s combined). The TOKEN ARRAYS are deliberately
    # never persisted: caching them costs more to build (the
    # InMemoryRelation child evaluates without codegen CSE, ~106 s)
    # than the scans it would save.
    with_toks = df.select(
        F.col(id_col), F.explode(F.array(toks)).alias("_toks")
    )
    tf_cols = [
        (F.size("_toks") - F.size(F.array_remove("_toks", w)))
        .cast("double")
        .alias(f"_tf{i}")
        for i, w in enumerate(terms)
    ]
    # per_doc is consumed twice (corpus stats, then scoring);
    # materializing it makes the tokenizer run ONCE. The rows are
    # narrow numerics — doc_id + dl + one double per term, ~40 B/doc —
    # so at any corpus size this is O(rows) small-column storage, never
    # the token arrays (storing those costs more to build than it saves
    # — the InMemoryRelation child evaluates without codegen CSE).
    # localCheckpoint (MEMORY_AND_DISK: oversized corpora spill, not
    # OOM) rather than persist(): checkpoint blocks are owned by the
    # RDD and freed by the ContextCleaner when the caller drops the
    # result, where a persist() entry would sit in the session
    # CacheManager forever with no owner to unpersist it.
    per_doc = with_toks.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("_dl"),
        *tf_cols,
    ).transform(_materialize)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_dl").alias("_dlsum"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("_dlsum").cast("double") / F.col("_n").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / avgdl
    )
    score = F.lit(0.0)
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - F.col(f"_df{i}") + F.lit(0.5))
            / (F.col(f"_df{i}") + F.lit(0.5))
        )
        tf = F.col(f"_tf{i}")
        score = score + idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)
    from pyspark.sql.window import Window

    ranked = (
        scored.select(F.col(id_col), score.alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc(id_col)))
            .cast("long"),
        )
    )
    return ranked


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set —
    invariant to token order/repetition, the cheap "same bag of words"
    signature."""
    toks = tokens_col(F.lower(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias(
            "fingerprint"
        ),
    )


def ngram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained bigram language-model quality score (the
    CCNet/KenLM-style signal, self-trained on the corpus): for each
    document, the mean add-1-smoothed conditional log-probability
    ln((count(w1 w2) + 1) / (count(w1) + V)) over the document's
    DISTINCT bigrams. Documents full of corpus-typical word
    transitions score high; rare/garbled transitions score low.

    Shape: two corpus count aggregates (unigrams with multiplicity,
    bigrams with multiplicity — both map-side combinable) + one
    distinct-bigram explode per doc + two equi-joins against the count
    tables. Nothing is quadratic; the count tables are vocabulary-sized
    and broadcast at typical scales. Scores round to 4 decimals so
    cross-engine float-sum ordering cannot flip the hash.
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    t = df.select(F.col(id_col), toks.alias("_toks"))
    tk = F.col("_toks")
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(tk, i), F.element_at(tk, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    uni = (
        t.select(F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = (
        t.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))

    doc_b = t.select(
        F.col(id_col),
        F.explode(F.array_distinct(bigrams)).alias("bigram"),
    ).withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
    scored = (
        doc_b.join(big, "bigram")
        .join(uni, doc_b.w1 == uni.tok)
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.log(
                (F.col("c2") + 1).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("_lp"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("_lp"), 4).alias("lm_score"),
        )
    )


def token_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Per-token distribution shift between two corpora (train vs val,
    this month's crawl vs last month's): add-1-smoothed unigram
    probabilities over the union vocabulary, returning the ``top_k``
    tokens by absolute probability gap with their KL(p_a || p_b)
    contributions — the drift/skew report a corpus pipeline runs before
    trusting a new snapshot.

    Determinism: probabilities are single IEEE divisions of exact
    integer counts (no cross-token float summation anywhere — the KL
    CONTRIBUTION per token ships instead of a total, and is rounded to
    6 decimals to absorb libm ``ln`` ulp differences across engines).
    Top-k ties break on the token text.

    Scale shape: one token-count aggregate per corpus (map-side
    combinable word-count — the canonical linear job), a full-outer
    equi-join on the token, scalar totals broadcast, and a TakeOrdered
    top-k. Nothing holds a vocabulary in one task.
    """
    def counts(df, side):
        toks = df.select(
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("token")
        )
        return toks.groupBy("token").agg(F.count(F.lit(1)).alias(f"c_{side}"))

    ca, cb = counts(df_a, "a"), counts(df_b, "b")
    joined = ca.join(cb, "token", "full").select(
        "token",
        F.coalesce("c_a", F.lit(0)).cast("long").alias("cnt_a"),
        F.coalesce("c_b", F.lit(0)).cast("long").alias("cnt_b"),
    )
    totals = joined.agg(
        F.sum("cnt_a").alias("_na"),
        F.sum("cnt_b").alias("_nb"),
        F.count(F.lit(1)).alias("_v"),
    )
    p = (F.col("cnt_a") + 1).cast("double") / (
        F.col("_na") + F.col("_v")
    ).cast("double")
    q = (F.col("cnt_b") + 1).cast("double") / (
        F.col("_nb") + F.col("_v")
    ).cast("double")
    scored = (
        joined.crossJoin(F.broadcast(totals))
        .withColumn("p_a", p)
        .withColumn("p_b", q)
        .withColumn("prob_gap", F.col("p_a") - F.col("p_b"))
        .withColumn(
            "kl_term",
            F.round(F.col("p_a") * F.log(F.col("p_a") / F.col("p_b")), 6),
        )
    )
    return (
        scored.orderBy(F.abs(F.col("prob_gap")).desc(), F.col("token"))
        .limit(top_k)
        .select("token", "cnt_a", "cnt_b", "p_a", "p_b", "prob_gap", "kl_term")
    )
