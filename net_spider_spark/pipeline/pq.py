"""Product quantization (PQ) for embedding compression + ANN scoring.

Jégou et al. 2011 ("Product quantization for nearest neighbor
search", IEEE TPAMI — public paper, reimplemented on DataFrame
expressions): split each vector into ``m`` subvectors, k-means each
subspace independently, and store a vector as ``m`` small codes. With
m=32, k=256 a 64-dim float vector (256 bytes) becomes 32 bytes — the
difference between "the corpus fits in cluster memory" and "it
doesn't" at 100 TB.

Default parameters are chosen for RECALL, not minimal code size: on
isotropic (near-i.i.d.) embeddings like the synthetic test corpus,
distance concentration makes coarse codes useless — the standard
m=8/k=256 config caps at recall@10 = 0.46 flat on this data (numpy
sweep, RECALL_r10), while m=32/k=256 reaches 0.82 flat / 0.80-0.81
through the IVF probe at n_probe=6 of 8. Real-world correlated
embeddings can lower m again; recall is a parameter, not a property
(tools/ann_recall.py re-measures every round).

Querying uses ADC (asymmetric distance computation): per query, a
lookup table of ``m * k`` exact subspace distances; a corpus vector's
approximate distance is the sum of ``m`` table entries picked by its
codes. The corpus is never decoded.

Scale shapes:

* **train** — ``m`` independent runs of
  :func:`net_spider_spark.pipeline.cluster.kmeans_fit` over sliced
  subvectors (broadcast argmin + one posexplode-mean shuffle per
  iteration; nothing driver-sized but the k*dim/m centroid table).
  Training is bounded by default to a deterministic md5 sample
  (``train_n=100_000`` — the FAISS recipe: codebooks estimate a
  distribution, so per-iteration work is capped at train_n*m*k
  regardless of corpus size; only the one-shot encode touches every
  row).
* **encode** — ONE shuffle-free vectorized Arrow pass
  (:func:`_arrow_codes`): each batch argmin-assigns its vectors
  against the broadcast (m, k, sub_dim) codebook as a single numpy
  broadcast op. Zero exchanges; the corpus never moves.
* **topk** — for bounded query batches (the ANN-serving shape;
  ``NET_SPIDER_ADC_MAX_QUERIES``), ONE vectorized Arrow scan over the
  code table (:func:`_adc_scan_topk`): the query batch broadcasts as
  raw vectors, each task builds per-query-chunk LUTs from the
  broadcast codebooks, scores its rows and emits a per-batch partial
  top-k, so the only exchange is the final per-query window over
  batch winners — the FAISS shard-scan shape. Unbounded query sides
  fall back to the relational form: the queries x m x k LUT broadcast,
  joined to the exploded codes on (sub, code) and summed per
  (query, corpus id). Either way the corpus never shuffles vectors,
  only codes.

Like :mod:`net_spider_spark.pipeline.cluster`, every step (hash-seeded
init, (dist, cid) tie-breaks, fixed iteration count) is deterministic,
so the whole train -> encode -> score pipeline has an EXACT DuckDB
oracle despite being an "approximate" index.

Why the argmin is a vectorized Arrow pass and not DataFrame ops: the
candidate space is n*m*k distances against a driver-sized codebook —
pure per-row compute with no relational structure to exploit. Three
formulations were measured encoding at m=32, k=256 on local[32]:
higher-order-function expressions (``transform``/``aggregate``) are
CodegenFallback and evaluate interpreted per row per centroid (9x
slower than the join); the explode + broadcast-join + two-phase
primitive hash-aggregate argmin stays in whole-stage codegen but
materializes the n*m*k candidate stream twice and shuffles (id, sub)
rows twice; the numpy batch op (current form) computes the same
distances with zero exchanges and beat the join form ~5x (4.6 s ->
0.9 s on the 2000-vector corpus, and the gap widens with corpus size
since no exchange remains). Bit-parity with the SQL expression tree
is maintained by accumulating the same float64 ops in the same order
(see :func:`_arrow_codes`). Inlining the codebook as literal
expressions is worst of all — m*k*sub_dim literals make Catalyst
analysis itself the bottleneck.

Reference n/a: extension suite (LLM-data-pipeline operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from net_spider_spark.pipeline.cluster import _hash_expr, _local_train_ok

__all__ = [
    "pq_train", "pq_encode", "pq_topk",
    "ivfpq_build", "ivfpq_add", "ivfpq_search", "ivfpq_topk",
    "ivfpq_write", "ivfpq_read", "IvfPqIndex",
]


def _subslice(vec, sub: int, sub_dim: int):
    return F.slice(vec, sub * sub_dim + 1, sub_dim)


def _explode_subvectors(df: DataFrame, m: int, sub_dim: int,
                        id_col: str, vec_col: str,
                        out_id: str = "_id") -> DataFrame:
    """(out_id, sub, sv): every vector split into its m subvectors.

    The output feeds a x m explode then a x k broadcast join — a
    m*k-fold row multiplication that happens IN PLACE, in whatever
    partitions the input scan produced. A small input (one parquet
    footer, a TakeOrderedAndProject sample) arrives as 1 partition, and
    the multiplied stream then evaluates single-threaded: measured
    23 s/TASK for the m=32,k=256 argmin pass over a 1-partition
    2000-vector table on local[32], vs <1 s spread. So when the input
    has fewer partitions than cores, repartition the NARROW (id, vec)
    projection first — a shuffle of 1x data guarding a m*k-fold
    expansion. Inputs that already arrive wide (any real corpus scan)
    skip the shuffle entirely."""
    v = F.col(vec_col).cast("array<double>")
    proj = df.select(F.col(id_col).alias(out_id), v.alias("_v"))
    target = df.sparkSession.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() < target:
        proj = proj.repartition(target, out_id)
    # One parsed expr string instead of a 3m-call Column-builder loop:
    # the expression tree is IDENTICAL (inline(array(struct..)) ==
    # explode+field-select after analysis), but building it costs one
    # py4j round-trip instead of ~100 — at m=32 the Python-side loop
    # alone was 0.6 s of every plan build (guide §1.3).
    return proj.select(F.col(out_id), F.expr(_inline_subvectors("_v", m, sub_dim)))


def _inline_subvectors(vec_col: str, m: int, sub_dim: int) -> str:
    """SQL for ``inline(array(struct(s as sub, slice(vec,..) as sv)..))``
    — the unrolled (codegen-friendly, no higher-order functions)
    subvector explode as ONE parseable string."""
    structs = ",".join(
        f"struct({s} as sub, slice({vec_col},{s * sub_dim + 1},{sub_dim}) as sv)"
        for s in range(m)
    )
    return f"inline(array({structs}))"


def _sq_dist(a, b, sub_dim: int | None = None):
    """Squared L2 between two array columns. When ``sub_dim`` is known
    (it always is in PQ — every call site slices fixed-width
    subvectors), unroll to a flat sum of element_at terms: higher-order
    functions are CodegenFallback in Spark, so the zip_with/aggregate
    form evaluates interpreted per row — at m=32, k=256 the encode join
    makes n*m*k of these evaluations and the interpreted tree is the
    whole wall. The unrolled form stays in whole-stage codegen (column
    refs, not literals, so Catalyst analysis stays cheap)."""
    if sub_dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    terms = [
        (F.element_at(a, i) - F.element_at(b, i))
        * (F.element_at(a, i) - F.element_at(b, i))
        for i in range(1, sub_dim + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _books_np(codebooks, m: int, sub_dim: int):
    """codebooks [(sub, cid, centroid)] -> a dense (m, k, sub_dim)
    float64 ndarray (every (sub, cid) cell is present by construction —
    emptied cells keep their previous centroid)."""
    import numpy as np

    k = max(c for _, c, _ in codebooks) + 1
    arr = np.zeros((m, k, sub_dim), dtype=np.float64)
    for s, c, v in codebooks:
        arr[s, c] = v
    return arr


_ADC_ID_TYPES = ("tinyint", "smallint", "int", "bigint", "string")


def _adc_query_rows(queries: DataFrame, id_col: str, vec_col: str,
                    dim: int | None, tag: str):
    """Bounded collect of the QUERY side for the driver-LUT ADC scan.

    The ADC top-k is the guide-§8 shape inverted: every scoring
    decision depends only on the query vectors (driver-sized for any
    interactive/ANN batch — the CORPUS is the big side, and it never
    moves), so shipping the query batch to the executors as one small
    broadcast removes the relational LUT build (|Q|·m·k rows exchanged,
    broadcast and hash-joined) and the corpus-wide posexplode. Returns
    ``(qids, qmat)`` or None when the fast path must not run:
    ``NET_SPIDER_LOCAL_ADC=0``, more query rows than
    ``NET_SPIDER_ADC_MAX_QUERIES`` (default 1024 — past that the
    relational broadcast-LUT path is the right shape anyway), an id
    type outside :data:`_ADC_ID_TYPES`, duplicate/null ids, or
    null/ragged vectors. Every decision lands in sizing.DECISION_LOG so
    tests can pin which side of the guard each query took."""
    import os

    import numpy as np

    from net_spider_spark import sizing

    if os.environ.get("NET_SPIDER_LOCAL_ADC", "1") == "0":
        return None
    if queries.schema[id_col].dataType.simpleString() not in _ADC_ID_TYPES:
        return None
    max_q = int(os.environ.get("NET_SPIDER_ADC_MAX_QUERIES", "1024"))
    rows = (
        queries.select(
            F.col(id_col).alias("_qid"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        .limit(max_q + 1)
        .collect()
    )
    ok = len(rows) <= max_q
    est = 0
    qids = []
    vecs = []
    if ok:
        for r in rows:
            qid, qv = r["_qid"], r["_qv"]
            if qid is None or qv is None or (dim is not None and len(qv) != dim):
                ok = False
                break
            qids.append(qid)
            vecs.append(qv)
        if ok and (len(set(qids)) != len(qids)):
            ok = False
        if ok and vecs and any(len(v) != len(vecs[0]) for v in vecs):
            ok = False
        est = sum(len(v) for v in vecs) * 8
        # Byte budget, not just row count: row count alone mis-sizes
        # wide rows (sizing.py's own rationale) — 1024 very-high-dim
        # query vectors must not be broadcast unbounded. Over budget,
        # the relational broadcast-LUT path takes over.
        if ok and est > int(
            os.environ.get(
                "NET_SPIDER_ADC_MAX_BYTES", str(sizing.DRIVER_LOCAL_MAX_BYTES)
            )
        ):
            ok = False
    sizing._log_decision(tag, len(rows), est, ok)
    if not ok:
        return None
    qmat = (
        np.array(vecs, dtype=np.float64)
        if vecs
        else np.zeros((0, dim or 0), dtype=np.float64)
    )
    return qids, qmat


def _adc_scan_topk(
    cand: DataFrame,
    k: int,
    qids,
    qmat,
    books,
    q_id_type: str,
    probes=None,
    cents=None,
    chunk: int = 256,
) -> DataFrame:
    """ADC top-k as ONE Arrow pass over the candidate/code table — the
    100-TB shape of :func:`pq_topk`/:func:`ivfpq_search` scoring (FAISS
    scans shards exactly like this): the corpus codes stream through a
    single ``mapInPandas`` stage; each task builds the per-query lookup
    tables from the broadcast query batch + codebooks and emits only a
    per-batch partial top-k (≤ |Q|·k rows per batch), so the only
    exchange left is the final per-query window over partial winners.
    Replaces: the |Q|·m·k-row relational LUT (an exchange + broadcast
    of its own), the corpus-wide ``posexplode`` (m× the candidate
    stream), the LUT hash join, and the corpus-sized partial aggregate.

    Numeric parity with the relational form is exact, op for op:

    * LUT entries replay :func:`_sq_dist`'s unrolled left fold —
      ``(a_1-b_1)^2 + (a_2-b_2)^2 + …`` accumulated term-by-term in
      float64 (the same loop :func:`_arrow_codes` uses);
    * in residual mode the query residual is the same elementwise
      float64 ``x - y`` the ``zip_with`` computed;
    * the ADC sum folds the m LUT entries in subspace order — exactly
      the order the map-side partial aggregate accumulated them in
      (each candidate's posexploded rows were contiguous, sub 0..m-1,
      within one partition, and each (query, neighbor) pair lived in
      exactly one partition, so the "distributed" sum was always this
      single left fold);
    * the per-batch partial top-k keeps the k smallest by
      (adist, neighbor_id) — a pure selection, so feeding only batch
      winners to the global window cannot change the global winners.

    ``probes`` (ivfpq): per-query ndarray of probed cell ids — a
    candidate row scores for a query only when the query probes its
    cell (the relational path's broadcast probe join). ``cents``
    (residual mode): {cell id -> centroid ndarray} for per-(query,
    cell) residual LUTs, computed lazily per task, cached per (query
    chunk, cell) and bounded by NET_SPIDER_ADC_LUT_BYTES.

    Parity is stated for WELL-FORMED code tables — the ones
    :func:`_arrow_codes` / :func:`_arrow_cells_codes` produce: non-null
    neighbor ids and codes of exactly length m. Malformed rows diverge
    by design: the scan DROPS codes of the wrong length where the
    relational posexplode would score a partial (smaller) subspace
    sum, and a null neighbor id raises in the sort here rather than
    forming the relational path's null tie-group. Feed this scan from
    the library's own encoders, not arbitrary external tables."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    spark = cand.sparkSession
    mm, bk, sd = books.shape
    n_id_type = cand.schema["neighbor_id"].dataType.simpleString()
    cols = ["neighbor_id", "_cell", "codes"] if probes is not None else [
        "neighbor_id", "codes"
    ]
    src = cand.select(*cols)
    bb = spark.sparkContext.broadcast((qids, qmat, books, probes, cents))
    schema = (
        f"query_id {q_id_type}, neighbor_id {n_id_type}, adist double"
    )

    def scan(batches):
        b_qids, b_qmat, b_books, b_probes, b_cents = bb.value
        nq = len(b_qids)
        luts: dict = {}
        # Bound the per-task LUT cache: a residual-mode LUT is
        # (chunk, m, k) float64 — ~17 MB at the m=32/k=256 defaults —
        # and one accumulates per (query chunk, cell). Unbounded, the
        # cache scales with distinct-cells-per-task x query chunks (an
        # executor OOM at realistic n_cells); evict oldest-inserted
        # past a byte budget instead (recompute is one vectorized op).
        import os as _os

        lut_budget = int(
            _os.environ.get("NET_SPIDER_ADC_LUT_BYTES", str(256 << 20))
        )
        lut_bytes = [0]
        # Per-chunk union of probed cells: cells no query in the chunk
        # probes must not build LUTs or score (the relational path
        # bounded LUT work at |Q| x n_probe; scoring them was pure
        # waste and the probe check below dropped the rows anyway).
        probed_union = (
            {
                lo: set(
                    int(c)
                    for qi in range(lo, min(nq, lo + chunk))
                    for c in b_probes[qi]
                )
                for lo in range(0, nq, chunk)
            }
            if b_probes is not None
            else {}
        )

        def lut_for(lo, hi, cell):
            got = luts.get((lo, cell))
            if got is None:
                q = b_qmat[lo:hi]
                if cell is not None:
                    q = q - b_cents[cell]
                qs = q.reshape(hi - lo, mm, sd)
                d = None
                for j in range(sd):
                    dj = qs[:, :, None, j] - b_books[None, :, :, j]
                    dj = dj * dj
                    d = dj if d is None else d + dj
                while luts and lut_bytes[0] + d.nbytes > lut_budget:
                    old = luts.pop(next(iter(luts)))
                    lut_bytes[0] -= old.nbytes
                got = luts[(lo, cell)] = d
                lut_bytes[0] += d.nbytes
            return got

        def adc(lut_chunk, codes_block):
            acc = lut_chunk[:, 0, codes_block[:, 0]]
            for s in range(1, mm):
                acc = acc + lut_chunk[:, s, codes_block[:, s]]
            return acc

        for pdf in batches:
            if not len(pdf):
                continue
            keep = pdf["codes"].map(
                lambda c: c is not None and len(c) == mm
            )
            if b_probes is not None:
                keep &= pdf["_cell"].notna()
            pdf = pdf[keep]
            if not len(pdf):
                continue
            nid = pdf["neighbor_id"].to_numpy()
            codes_b = np.array(pdf["codes"].tolist(), dtype=np.int64)
            cells_b = (
                pdf["_cell"].to_numpy() if b_probes is not None else None
            )
            out_q, out_n, out_d = [], [], []

            def emit(qi, d_q, n_q):
                if not len(d_q):
                    return
                top = np.lexsort((n_q, d_q))[:k]
                out_q.append(np.full(len(top), b_qids[qi]))
                out_n.append(n_q[top])
                out_d.append(d_q[top])

            for lo in range(0, nq, chunk):
                hi = min(nq, lo + chunk)
                if b_cents is None:
                    if b_probes is not None:
                        # score only rows in cells some query in the
                        # chunk probes — the rest never pass the
                        # per-query check below
                        sel = np.isin(
                            cells_b,
                            np.fromiter(probed_union[lo], dtype=np.int64),
                        )
                        if not sel.any():
                            continue
                        acc = adc(lut_for(lo, hi, None), codes_b[sel])
                        nid_c, cells_c = nid[sel], cells_b[sel]
                    else:
                        acc = adc(lut_for(lo, hi, None), codes_b)
                        nid_c, cells_c = nid, cells_b
                    for qi in range(lo, hi):
                        if b_probes is not None:
                            msk = np.isin(cells_c, b_probes[qi])
                            if not msk.any():
                                continue
                            emit(qi, acc[qi - lo][msk], nid_c[msk])
                        else:
                            emit(qi, acc[qi - lo], nid_c)
                else:
                    # residual: the LUT is per (query, cell) — score
                    # cell group by cell group, then select per query.
                    # Cells outside the chunk's probed union are
                    # skipped outright: no LUT, no ADC scores (their
                    # rows never pass the per-query probe check).
                    chunk_cells = probed_union[lo]
                    per_d = [[] for _ in range(hi - lo)]
                    per_n = [[] for _ in range(hi - lo)]
                    for cell in np.unique(cells_b):
                        if int(cell) not in chunk_cells:
                            continue
                        cmask = cells_b == cell
                        acc = adc(lut_for(lo, hi, int(cell)), codes_b[cmask])
                        cn = nid[cmask]
                        for qi in range(lo, hi):
                            if cell in b_probes[qi]:
                                per_d[qi - lo].append(acc[qi - lo])
                                per_n[qi - lo].append(cn)
                    for qi in range(lo, hi):
                        if per_d[qi - lo]:
                            emit(
                                qi,
                                np.concatenate(per_d[qi - lo]),
                                np.concatenate(per_n[qi - lo]),
                            )
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "adist": np.concatenate(out_d),
                    }
                )

    scored = src.mapInPandas(scan, schema)
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def _arrow_codes(
    df: DataFrame,
    codebooks,
    m: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
    out_id: str = "_id",
) -> DataFrame:
    """(out_id, codes array<int>): every vector's per-subspace argmin
    code, as ONE vectorized Arrow pass — no explode, no join, no
    shuffle (beyond the thin-partition guard below).

    The argmin over n*m*k candidate distances is the one corpus-sized
    step of PQ, and it is pure per-row compute against a broadcast
    (m, k, sub_dim) table — exactly the shape a Pandas-UDF beats
    DataFrame ops at: the previous explode + broadcast-join +
    two-hash-aggregate formulation shuffled (_id, sub) rows twice and
    re-evaluated the distance expression n*m*k times per pass; the
    numpy version computes the same distances as one broadcasted
    (batch, m, k) array op per Arrow batch (measured 4.6 s -> 0.9 s
    encoding 2000x64-dim at m=32, k=256 on local[32], and the win
    grows with corpus size because zero exchanges remain).

    Numeric parity with the SQL formulation is exact, not approximate:
    the distance is accumulated term-by-term in float64 in subspace
    order — the same left-fold of ``(x_i - c_i)^2`` IEEE ops the
    unrolled :func:`_sq_dist` expression performs — and
    ``ndarray.argmin`` returns the FIRST index of the minimum, which
    is the (d, cid) min-cid tie-break. Verified code-for-code equal
    against the join formulation on the test corpus."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    bb = spark.sparkContext.broadcast(_books_np(codebooks, m, sub_dim))
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"`{out_id}` {id_type}, codes array<int>"
    proj = df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # Same thin-input guard as _explode_subvectors: a one-footer scan
    # or a TakeOrderedAndProject sample arrives as 1 partition and
    # would evaluate single-threaded; repartition the NARROW rows.
    target = spark.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() < target:
        proj = proj.repartition(target, out_id)

    def encode(batches):
        books = bb.value
        mm, kk, sd = books.shape
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf["_v"].tolist(), dtype=np.float64)
            sv = vecs.reshape(len(pdf), mm, sd)
            d = None
            for j in range(sd):
                dj = sv[:, :, None, j] - books[None, :, :, j]
                dj = dj * dj
                d = dj if d is None else d + dj
            codes = d.argmin(-1).astype(np.int32)
            yield pd.DataFrame(
                {out_id: pdf[out_id].values, "codes": list(codes)}
            )

    return proj.mapInPandas(encode, schema)


def _arrow_cells_codes(
    df: DataFrame,
    centroids,
    codebooks,
    residual: bool,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(neighbor_id, _cell, codes): coarse-cell assignment AND PQ
    encoding of every vector in ONE vectorized Arrow pass — the fused
    form of ``cluster._assign`` + (residual subtract) + ``_arrow_codes``.

    Fusing matters twice (guide §2.4, §8): at build time the corpus is
    read and crossed into Python once instead of twice (assign pass +
    encode pass), and at search time the candidate table arrives as one
    relation, so the former corpus-sized ``codes ⋈ cells`` sort-merge
    join (2 exchanges + 2 sorts of n rows) disappears from every query.
    In residual mode it also replaces the broadcast-join +
    ``zip_with`` residual construction AND removes the corpus-sized
    persist the two-pass form needed.

    Numeric parity is exact, op for op: the cell argmin replays
    ``_assign``'s float64 accumulation (d starts at zeros, adds
    (x_j-c_j)^2 a dimension at a time, first-min tie-break), the
    residual is the same elementwise float64 ``x - c`` ``zip_with``
    computed, and the code argmin replays ``_arrow_codes``'s per-
    subspace fold. Pinned by ``test_fused_cells_codes_match_two_pass``."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    m = max(s for s, _, _ in codebooks) + 1
    sub_dim = len(codebooks[0][2])
    cent = sorted(centroids)
    cids = np.array([c for c, _ in cent], dtype=np.int64)
    cmat = np.array([v for _, v in cent], dtype=np.float64)
    bb = spark.sparkContext.broadcast(
        (cids, cmat, _books_np(codebooks, m, sub_dim))
    )
    id_type = df.schema[id_col].dataType.simpleString()
    proj = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # Thin-input guard, cf. _arrow_codes.
    target = spark.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() < target:
        proj = proj.repartition(target, "neighbor_id")

    def fused(batches):
        bcids, bcmat, books = bb.value
        mm, kk, sd = books.shape
        dim = bcmat.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf["_v"].tolist(), dtype=np.float64)
            d = np.zeros((len(pdf), bcmat.shape[0]))
            for j in range(dim):
                dj = v[:, j, None] - bcmat[None, :, j]
                d += dj * dj
            idx = d.argmin(-1)
            enc = v - bcmat[idx] if residual else v
            sv = enc.reshape(len(pdf), mm, sd)
            dd = None
            for j in range(sd):
                dj = sv[:, :, None, j] - books[None, :, :, j]
                dj = dj * dj
                dd = dj if dd is None else dd + dj
            codes = dd.argmin(-1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].values,
                    "_cell": bcids[idx],
                    "codes": list(codes),
                }
            )

    return proj.mapInPandas(
        fused, f"`neighbor_id` {id_type}, _cell long, codes array<int>"
    )


def _train_step_partials(
    df: DataFrame,
    codebooks,
    m: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(sub, cid, pos, psum, pcnt): one Lloyd's update's assignment +
    map-side combine in a single Arrow pass. Each batch argmin-assigns
    its vectors against the broadcast codebooks (same float64 op order
    and first-min tie-break as :func:`_arrow_codes`) and emits the
    per-(sub, cid, pos) partial sums/counts — at most m*k*sub_dim rows
    per batch regardless of batch row count, so the combining shuffle
    is codebook-sized, never sample-sized."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    bb = spark.sparkContext.broadcast(_books_np(codebooks, m, sub_dim))
    proj = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    target = spark.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() < target:
        proj = proj.repartition(target, "_id")

    def step(batches):
        books = bb.value
        mm, kk, sd = books.shape
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf["_v"].tolist(), dtype=np.float64)
            sv = vecs.reshape(len(pdf), mm, sd)
            d = None
            for j in range(sd):
                dj = sv[:, :, None, j] - books[None, :, :, j]
                dj = dj * dj
                d = dj if d is None else d + dj
            codes = d.argmin(-1)
            acc = np.zeros((mm, kk, sd))
            cnt = np.zeros((mm, kk), dtype=np.int64)
            for s in range(mm):
                np.add.at(acc[s], codes[:, s], sv[:, s, :])
                np.add.at(cnt[s], codes[:, s], 1)
            subs, cids = np.nonzero(cnt)
            yield pd.DataFrame(
                {
                    "sub": np.repeat(subs, sd).astype("int32"),
                    "cid": np.repeat(cids, sd).astype("int32"),
                    "pos": np.tile(np.arange(sd), len(subs)).astype(
                        "int32"
                    ),
                    "psum": acc[subs, cids].reshape(-1),
                    "pcnt": np.repeat(cnt[subs, cids], sd),
                }
            )

    return proj.mapInPandas(
        step, "sub int, cid int, pos int, psum double, pcnt long"
    )


def _train_sample(df: DataFrame, train_n: int | None,
                  id_col: str, seed: str) -> DataFrame:
    """Bounded deterministic training sample: the ``train_n`` rows with
    the smallest ``md5(seed:sample:id)``. ``orderBy(hash).limit(n)``
    plans as TakeOrderedAndProject — per-partition top-n, only n rows
    cross the wire — so at 100 TB the sample costs one scan, never a
    sort. The hash device is the same portable bottom-k-by-md5 used for
    centroid seeds (different key string, so sample membership and seed
    rank are independent draws), and DuckDB replays it verbatim."""
    if train_n is None:
        return df
    h = F.md5(
        F.concat(F.lit(seed + ":sample:"), F.col(id_col).cast("string"))
    )
    return df.orderBy(h, id_col).limit(train_n)


def _train_local(rows, m: int, k: int, sub_dim: int, iters: int,
                 seed: str) -> list[tuple[int, int, list[float]]]:
    """PQ codebook training over the COLLECTED bounded sample, entirely
    in the driver: bottom-k-by-md5 seeds (hashlib over the same
    ``seed + ":" + str(id)`` strings :func:`_hash_expr` hashes) plus
    every Lloyd's update as the numpy body of
    :func:`_train_step_partials` applied to the one in-memory batch.

    Motivation (guide §1.3/§4): with ``train_n`` bounded the sample is
    driver-sized, yet the distributed loop paid a repartition + Arrow
    worker + combining-aggregate JOB per iteration plus a seed-collect
    job — 0.7-1.4 s of scheduling each on local[32] for a 1024-row
    sample. One collect replaces (2 + iters) actions. Arithmetic: the
    per-row distance fold, first-min tie-break and np.add.at partial
    sums are the exact ops of the Arrow step (chunked over rows —
    np.add.at is sequential in index order, so consecutive chunks
    accumulate identically to one call); only the ORDER of summing
    across what used to be per-partition partials differs, which the
    round(9) oracle normalization provably tolerates — DuckDB already
    re-sums every mean in its own order."""
    import hashlib

    import numpy as np

    ids = [r["_id"] for r in rows]
    vecs = np.array([r["_v"] for r in rows], dtype=np.float64)
    order = sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.md5((seed + ":" + str(ids[i])).encode()).hexdigest(),
            ids[i],
        ),
    )
    books: dict[tuple[int, int], list[float]] = {}
    for cid, i in enumerate(order[:k]):
        full = vecs[i]
        for s in range(m):
            books[(s, cid)] = [
                float(x) for x in full[s * sub_dim:(s + 1) * sub_dim]
            ]
    n = len(rows)
    sv = vecs.reshape(n, m, sub_dim)
    for _ in range(iters):
        bnp = _books_np(_book_list(books), m, sub_dim)
        kk = bnp.shape[1]
        acc = np.zeros((m, kk, sub_dim))
        cnt = np.zeros((m, kk), dtype=np.int64)
        # Per-subspace (rows, k) buffers instead of one (rows, m, k)
        # block: the distances/argmin factor across subspaces, so the
        # elementwise ops, first-min tie-break and np.add.at order are
        # bitwise unchanged — but peak temporaries drop m-fold (67 MB
        # -> 2 MB at m=32, k=256, n=1024), which is the difference
        # between ~0.3 s and ~2.8 s of page-fault-dominated numpy in
        # the JVM-hosting driver process.
        chunk = max(1, (1 << 22) // max(kk, 1))
        for lo in range(0, n, chunk):
            svc = sv[lo:lo + chunk]
            for s in range(m):
                d = None
                for j in range(sub_dim):
                    dj = svc[:, s, None, j] - bnp[None, s, :, j]
                    dj = dj * dj
                    d = dj if d is None else d + dj
                codes = d.argmin(-1)
                np.add.at(acc[s], codes, svc[:, s, :])
                np.add.at(cnt[s], codes, 1)
        # (sub, cid) cells that lost every member keep their centroid
        for key in list(books):
            s, cid = key
            if cnt[s, cid]:
                books[key] = [float(x) for x in acc[s, cid] / cnt[s, cid]]
    return _book_list(books)


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 32,
    k: int = 256,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "s42",
    train_n: int | None = 100_000,
) -> list[tuple[int, int, list[float]]]:
    """Train one deterministic k-means codebook per subspace.

    Returns [(sub, cid, centroid)] with ``m * k`` rows; ``dim`` must be
    divisible by ``m``. All m subspaces train TOGETHER — ``sub`` is
    just another grouping key, so each Lloyd's iteration is ONE
    broadcast-join argmin + ONE (sub, cid, pos) mean aggregate over the
    exploded subvector table, not m driver round-trips. The
    bottom-k-by-hash init depends only on row ids, so subspace s's
    seeds are the s-th slices of the same k seed rows (identical to
    training each subspace independently — pinned by the numpy parity
    test and the per-subspace oracle chains).

    ``train_n`` bounds the Lloyd's iterations to a deterministic
    bottom-train_n-by-md5 sample (:func:`_train_sample`): codebook
    QUALITY needs a distribution estimate, not the corpus — k-means on
    a 100k sample is the standard billion-scale recipe (FAISS trains
    IVF-PQ the same way), and it caps the per-iteration argmin work at
    train_n*m*k regardless of corpus size. Encoding (the corpus-sized
    pass) happens once, in :func:`pq_encode`, against the frozen
    books. ``train_n=None`` trains on everything.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    spark = df.sparkSession
    if train_n is not None and _local_train_ok(df, id_col):
        # Driver fast path (see _train_local): ONE collect of the
        # bounded sample replaces the persist, the seed collect and the
        # per-iteration partials jobs; the only corpus-sized pass left
        # in training is the TakeOrderedAndProject behind this collect.
        rows = (
            _train_sample(df, train_n, id_col, seed)
            .select(
                F.col(id_col).alias("_id"),
                F.col(vec_col).cast("array<double>").alias("_v"),
            )
            .collect()
        )
        return _train_local(rows, m, k, sub_dim, iters, seed)
    df = _train_sample(df, train_n, id_col, seed)
    # Distributed fallback (train_n=None trains on the caller's corpus;
    # non-integer/string ids can't replay the seed hash driver-side).
    # The sample feeds one action per Lloyd's iteration plus the seed
    # collect; without a persist each action re-runs the bottom-train_n
    # TakeOrderedAndProject — a full corpus scan PER ACTION at scale.
    # train_n bounds the cached size (train_n * dim doubles), and every
    # consuming action completes inside this function, so the persist
    # is released before return. train_n=None trains on the caller's
    # corpus; caching an unbounded input is the caller's decision.
    persisted = train_n is not None
    if persisted:
        df = df.persist()
    seed_rows = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .withColumn("_h", _hash_expr("_id", seed))
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    books: dict[tuple[int, int], list[float]] = {}
    for cid, r in enumerate(seed_rows):
        full = list(r["_v"])
        for s in range(m):
            books[(s, cid)] = full[s * sub_dim:(s + 1) * sub_dim]

    for _ in range(iters):
        # One Lloyd's update: numpy argmin + per-batch partial sums
        # (see _train_step_partials), combined by one hash aggregate
        # whose input is at most m*k*sub_dim rows PER BATCH — the
        # map-side combine of the update, done in the Arrow worker, so
        # the shuffle never sees the sample row count.
        partials = _train_step_partials(
            df, _book_list(books), m, sub_dim, id_col, vec_col
        )
        means = (
            partials.groupBy("sub", "cid", "pos")
            .agg((F.sum("psum") / F.sum("pcnt")).alias("mval"))
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_key.setdefault((r["sub"], r["cid"]), {})[r["pos"]] = r["mval"]
        # (sub, cid) cells that lost every member keep their centroid
        books = {
            key: [vals[p] for p in sorted(vals)]
            if (vals := by_key.get(key)) is not None
            else cv
            for key, cv in books.items()
        }
    if persisted:
        df.unpersist(blocking=False)
    return _book_list(books)


def _book_list(books: dict[tuple[int, int], list[float]]):
    return [(s, c, v) for (s, c), v in sorted(books.items())]


def _codebook_df(spark, codebooks):
    """(sub, cid, cv) DataFrame from the driver-side codebook list.

    The m*k rows (8192 at contract defaults) ship as ONE from_json
    literal + two posexplodes instead of ``createDataFrame``'s
    row-by-row verify/pickle path — same rows, same schema, ~0.05 s
    instead of ~0.25 s per plan build (guide §1.3). json.dumps emits
    shortest-round-trip doubles and Jackson parses to nearest, so the
    values are bit-identical. Falls back to createDataFrame for a
    partial codebook (never produced by pq_train, but cheap to keep
    correct)."""
    import json

    m = max(s for s, _, _ in codebooks) + 1
    k = max(c for _, c, _ in codebooks) + 1
    if len(codebooks) == m * k:
        by = {(s, c): v for s, c, v in codebooks}
        payload = json.dumps(
            [
                [[float(x) for x in by[(s, c)]] for c in range(k)]
                for s in range(m)
            ]
        )
        return (
            spark.range(1)
            .select(
                F.posexplode(
                    F.from_json(
                        F.lit(payload), "array<array<array<double>>>"
                    )
                ).alias("sub", "_row")
            )
            .select("sub", F.posexplode("_row").alias("cid", "cv"))
        )
    return spark.createDataFrame(
        [(s, c, [float(x) for x in v]) for s, c, v in codebooks],
        "sub int, cid int, cv array<double>",
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, codes): per vector, the argmin-centroid code of each
    subspace, as an ``array<int>`` ordered by subspace — one
    shuffle-free vectorized Arrow pass (:func:`_arrow_codes`)."""
    m = max(s for s, _, _ in codebooks) + 1
    sub_dim = len(codebooks[0][2])
    return _arrow_codes(
        df, codebooks, m, sub_dim, id_col, vec_col, out_id=id_col
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adist, rank) — the k corpus
    vectors with the smallest summed subspace distances per query.

    ``codes`` is :func:`pq_encode` output. Ties break by neighbor id,
    so ranks are deterministic.
    """
    m = max(s for s, _, _ in codebooks) + 1
    sub_dim = len(codebooks[0][2])
    got = _adc_query_rows(
        queries, id_col, vec_col, m * sub_dim, "adc_scan:pq_topk"
    )
    if got is not None:
        qids, qmat = got
        return _adc_scan_topk(
            codes.select(F.col(id_col).alias("neighbor_id"), "codes"),
            k, qids, qmat, _books_np(codebooks, m, sub_dim),
            queries.schema[id_col].dataType.simpleString(),
        )
    q_exploded = _explode_subvectors(
        queries, m, sub_dim, id_col, vec_col, out_id="query_id"
    )
    cb = _codebook_df(queries.sparkSession, codebooks)
    # queries x m x k rows — the ADC lookup table; broadcast to score
    # the (much larger) corpus without moving it.
    lut = q_exploded.join(F.broadcast(cb), "sub").select(
        "query_id", "sub", F.col("cid").alias("code"),
        _sq_dist(F.col("sv"), F.col("cv"), sub_dim).alias("d"),
    )
    scored = (
        codes.select(
            F.col(id_col).alias("neighbor_id"),
            F.posexplode("codes").alias("sub", "code"),
        )
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adist"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 6,
    coarse_iters: int = 2,
    m: int = 32,
    k_codes: int = 256,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "s42",
    residual: bool = False,
    train_n: int | None = 100_000,
) -> DataFrame:
    """IVF-PQ ANN — the standard billion-scale index shape (Jégou et
    al. 2011), composed from the two deterministic pieces this engine
    already has: the coarse quantizer is :func:`cluster.kmeans_fit`
    (bottom-k-by-md5 init, so the whole index build is
    engine-reproducible and has an exact DuckDB oracle —
    :func:`similarity.ivf_topk` shares the same trainer), the fine
    quantizer is the :func:`pq_train` subspace codebooks.

    ``residual=False`` quantizes raw vectors (IVF-Flat-style cells +
    global PQ codes). ``residual=True`` is the classic Jégou IVF-ADC:
    codebooks train on and codes store r = x - centroid(cell(x)), so
    the PQ budget spends on the (much smaller) within-cell spread
    instead of re-describing cell positions — better recall at the
    same code size (measured in RECALL_r09.json). The cost is a
    per-(query, probed-cell) ADC lookup table — |Q| * n_probe * m *
    k_codes rows instead of |Q| * m * k_codes — still a broadcast.

    Each query exact-scores the ``n_cells`` coarse centroids
    (broadcast — n_cells rows), keeps the ``n_probe`` nearest cells
    ((dist, cell) tie-break), and ADC-scores ONLY the codes in probed
    cells: compute drops by ~n_probe/n_cells versus :func:`pq_topk`
    while the stored index stays m bytes + one cell id per vector.

    Scale shape: corpus vectors move only inside the bounded training
    aggregates; candidate scoring ships (neighbor_id, codes, cell) —
    never embeddings. The ADC lookup table (|Q|*m*k_codes rows) and
    the probe table (|Q|*n_probe rows) both broadcast, so the
    per-cell candidate join is map-side against the code table.
    Output: (query_id, neighbor_id, adist, rank), ties by neighbor id.
    With ``n_probe == n_cells`` the cell pruning is a no-op and the
    result equals :func:`pq_topk` row for row (test-pinned).

    This is the build-then-search composition; a long-lived deployment
    calls :func:`ivfpq_build` ONCE (persisting/writing the index
    DataFrames) and serves every query batch through
    :func:`ivfpq_search` — retraining codebooks per query batch, as
    this convenience wrapper does, is only appropriate when the corpus
    itself changed.
    """
    index = ivfpq_build(
        corpus, dim=dim, n_cells=n_cells, coarse_iters=coarse_iters,
        m=m, k_codes=k_codes, pq_iters=pq_iters,
        id_col=id_col, vec_col=vec_col, seed=seed, residual=residual,
        train_n=train_n,
    )
    return ivfpq_search(
        index, queries, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


class IvfPqIndex:
    """The built IVF-PQ index: ``cells`` (neighbor_id, _cell) and
    ``codes`` (neighbor_id, codes) DataFrames — m bytes + one cell id
    per corpus vector, persistable/writable like any DataFrame — plus
    the driver-side coarse centroids and PQ codebooks.

    ``table`` (when the index was built by the fused single-pass path)
    is the combined (neighbor_id, _cell, codes) relation ``cells`` and
    ``codes`` are projections of; :func:`ivfpq_search` reads it
    directly so no corpus-sized ``codes ⋈ cells`` join is ever planned.
    Indexes reloaded by :func:`ivfpq_read` (or constructed from
    separate tables) leave it None and search falls back to the join."""

    def __init__(self, cells, codes, cents, books, dim, m, residual,
                 table=None):
        self.cells = cells
        self.codes = codes
        self.cents = cents
        self.books = books
        self.dim = dim
        self.m = m
        self.residual = residual
        self.table = table


def ivfpq_write(index: IvfPqIndex, path: str, mode: str = "error") -> None:
    """Persist a built index under ``path`` as four parquet datasets:
    ``cells/`` and ``codes/`` (the corpus-sized tables, written
    distributed — m bytes + one cell id per vector, the whole point of
    PQ at 100 TB), plus the driver-sized ``centroids/`` and ``books/``
    and a one-row ``meta/`` (dim, m, residual, format version).

    Building the index is the corpus-scale cost (train + one encode
    pass); searching it is cheap. Without persistence that cost is
    paid per session — write once after :func:`ivfpq_build`, then any
    number of sessions :func:`ivfpq_read` + :func:`ivfpq_search` (and
    :func:`ivfpq_add` day's-batches can be re-written incrementally).
    Parquet keeps the layout engine-portable: the same files audit
    from DuckDB."""
    spark = index.cells.sparkSession
    index.cells.write.mode(mode).parquet(f"{path}/cells")
    index.codes.write.mode(mode).parquet(f"{path}/codes")
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in index.cents],
        "cid long, cv array<double>",
    ).write.mode(mode).parquet(f"{path}/centroids")
    _codebook_df(spark, index.books).write.mode(mode).parquet(
        f"{path}/books"
    )
    spark.createDataFrame(
        [(1, index.dim, index.m, bool(index.residual))],
        "version int, dim int, m int, residual boolean",
    ).write.mode(mode).parquet(f"{path}/meta")


def ivfpq_read(spark, path: str) -> IvfPqIndex:
    """Load an :func:`ivfpq_write`-persisted index. The corpus-sized
    tables stay DataFrames over their parquet (scans prune/push down
    as usual — search only ever reads probed cells' rows); the
    centroid and codebook tables are collected driver-side (k and
    m*k rows by construction)."""
    meta = spark.read.parquet(f"{path}/meta").collect()
    if len(meta) != 1 or meta[0]["version"] != 1:
        raise ValueError(
            f"unsupported ivfpq index at {path!r}: meta={meta}"
        )
    dim, m, residual = meta[0]["dim"], meta[0]["m"], meta[0]["residual"]
    cents = [
        (r["cid"], list(r["cv"]))
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("cid").collect()
    ]
    books = [
        (r["sub"], r["cid"], list(r["cv"]))
        for r in spark.read.parquet(f"{path}/books")
        .orderBy("sub", "cid").collect()
    ]
    return IvfPqIndex(
        spark.read.parquet(f"{path}/cells"),
        spark.read.parquet(f"{path}/codes"),
        cents, books, dim, m, residual,
    )


def ivfpq_build(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 8,
    coarse_iters: int = 2,
    m: int = 32,
    k_codes: int = 256,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "s42",
    residual: bool = False,
    train_n: int | None = 100_000,
) -> IvfPqIndex:
    """Build the IVF-PQ index over ``corpus`` (see :func:`ivfpq_topk`
    for the algorithm and scale shape). One-time cost; the returned
    index serves any number of :func:`ivfpq_search` calls.

    ``train_n`` bounds BOTH quantizers' Lloyd's iterations to the same
    deterministic md5 sample (the FAISS recipe — codebooks estimate a
    distribution; only cell assignment and encoding touch the corpus,
    once each, against frozen parameters). In residual mode the sample
    is drawn from the residual table by the same ids, so the two
    quantizers see consistent rows."""
    from net_spider_spark.pipeline import cluster as CL

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    vecs = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if train_n is not None and CL._local_train_ok(vecs, "_id"):
        # Fast path: BOTH quantizers train on the same bounded
        # bottom-train_n-by-md5(seed:sample:id) rows (the hash depends
        # only on ids, so the coarse sample and the fine sample are
        # the same rows by construction) — ONE collect feeds both
        # driver-side Lloyd's loops instead of one action each. In
        # residual mode the fine quantizer's sample residuals are
        # computed here in numpy against the frozen coarse centroids
        # (same float64 argmin fold and x - c subtraction the
        # distributed chain performs), which removes the residual-
        # table sample action AND the corpus-sized persist the
        # two-pass build needed. The only corpus-sized work left is
        # the ONE fused assign+encode pass below.
        import numpy as np

        h = F.md5(
            F.concat(F.lit(seed + ":sample:"), F.col("_id").cast("string"))
        )
        rows = vecs.orderBy(h, "_id").limit(train_n).collect()
        cents = CL._fit_local(rows, n_cells, coarse_iters, seed)
        if residual:
            cent = sorted(cents)
            cmat = np.array([v for _, v in cent], dtype=np.float64)
            sample_v = np.array([r["_v"] for r in rows], dtype=np.float64)
            idx = CL._argmin_rows(sample_v, cmat)
            res_v = sample_v - cmat[idx]
            train_rows = [
                {"_id": r["_id"], "_v": res_v[i]}
                for i, r in enumerate(rows)
            ]
        else:
            train_rows = rows
        books = _train_local(
            train_rows, m, k_codes, sub_dim, pq_iters, seed
        )
        table = _arrow_cells_codes(
            corpus, cents, books, residual, id_col, vec_col
        )
        return IvfPqIndex(
            table.select("neighbor_id", "_cell"),
            table.select("neighbor_id", "codes"),
            cents, books, dim, m, residual, table=table,
        )

    cents, assigned = CL.kmeans_fit(
        corpus, k=n_cells, iters=coarse_iters,
        id_col=id_col, vec_col=vec_col, seed=seed, train_n=train_n,
    )
    if residual:
        # In residual mode the frozen-centroid corpus assignment feeds
        # the cells table, the residual sample that pq_train collects
        # against (one action per Lloyd's iteration plus the seed
        # collect), AND the corpus-wide encode — without a persist each
        # of those re-runs the full corpus argmin. MEMORY_AND_DISK:
        # corpus-sized on purpose (one materialized pass beats four
        # recomputed ones); released via ContextCleaner when the built
        # index goes out of scope.
        from pyspark import StorageLevel

        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    cells = assigned.select(
        F.col("_id").alias("neighbor_id"),
        F.col("cluster_id").alias("_cell"),
    )
    if residual:
        cdf = CL._centroid_df(corpus, cents)
        res = assigned.join(
            F.broadcast(cdf), F.col("cluster_id") == F.col("cid")
        ).select(
            "_id",
            F.zip_with("_v", "cv", lambda x, y: x - y).alias("_rv"),
        )
        books = pq_train(
            res, dim=dim, m=m, k=k_codes, iters=pq_iters,
            id_col="_id", vec_col="_rv", seed=seed, train_n=train_n,
        )
        codes = pq_encode(res, books, id_col="_id", vec_col="_rv").select(
            F.col("_id").alias("neighbor_id"), "codes"
        )
    else:
        books = pq_train(
            corpus, dim=dim, m=m, k=k_codes, iters=pq_iters,
            id_col=id_col, vec_col=vec_col, seed=seed, train_n=train_n,
        )
        codes = pq_encode(
            corpus, books, id_col=id_col, vec_col=vec_col
        ).select(F.col(id_col).alias("neighbor_id"), "codes")
    return IvfPqIndex(cells, codes, cents, books, dim, m, residual)


def ivfpq_add(index: IvfPqIndex, new_batch: DataFrame,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> IvfPqIndex:
    """Add a batch of vectors to a built index WITHOUT retraining:
    new vectors are assigned to the existing cells and encoded against
    the FROZEN codebooks (residual mode subtracts the assigned cell's
    centroid first), then unioned into the cells/codes tables — the
    day's-batch shape every incremental operator here uses (cf.
    ``embedding_near_dup_against``). Quantization error for the new
    batch reflects the original training distribution; retrain
    (:func:`ivfpq_build`) when the distribution drifts."""
    from net_spider_spark.pipeline import cluster as CL

    if index.table is not None:
        # Fused-index path: assign + encode the day's batch in the same
        # single Arrow pass the build used (identical ops — see
        # _arrow_cells_codes), keeping the combined relation so search
        # stays join-free over the incremented index too.
        new_table = _arrow_cells_codes(
            new_batch, index.cents, index.books, index.residual,
            id_col, vec_col,
        )
        table = index.table.unionByName(new_table)
        return IvfPqIndex(
            table.select("neighbor_id", "_cell"),
            table.select("neighbor_id", "codes"),
            index.cents, index.books, index.dim, index.m,
            index.residual, table=table,
        )

    vecs = new_batch.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    assigned = CL._assign(vecs, index.cents)
    new_cells = assigned.select(
        F.col("_id").alias("neighbor_id"),
        F.col("cluster_id").alias("_cell"),
    )
    if index.residual:
        cdf = CL._centroid_df(new_batch, index.cents)
        src = assigned.join(
            F.broadcast(cdf), F.col("cluster_id") == F.col("cid")
        ).select(
            "_id",
            F.zip_with("_v", "cv", lambda x, y: x - y).alias("_rv"),
        )
        new_codes = pq_encode(
            src, index.books, id_col="_id", vec_col="_rv"
        ).select(F.col("_id").alias("neighbor_id"), "codes")
    else:
        new_codes = pq_encode(
            new_batch, index.books, id_col=id_col, vec_col=vec_col
        ).select(F.col(id_col).alias("neighbor_id"), "codes")
    return IvfPqIndex(
        index.cells.unionByName(new_cells),
        index.codes.unionByName(new_codes),
        index.cents, index.books, index.dim, index.m, index.residual,
    )


def ivfpq_search(
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a built :class:`IvfPqIndex` (see :func:`ivfpq_topk`)."""
    from pyspark.sql.window import Window

    from net_spider_spark.pipeline import cluster as CL

    spark = queries.sparkSession
    cells, codes, books = index.cells, index.codes, index.books
    dim, m, residual = index.dim, index.m, index.residual

    got = _adc_query_rows(
        queries, id_col, vec_col, dim, "adc_scan:ivfpq_search"
    )
    if got is not None:
        import numpy as np

        qids, qmat = got
        sub_dim = dim // m
        cent = sorted(index.cents)
        cid_arr = np.array([c for c, _ in cent], dtype=np.int64)
        cmat = np.array([v for _, v in cent], dtype=np.float64)
        # Probe selection, driver-side: replays the relational probe
        # subtree exactly — CL._sq_dist's float64 left fold from 0.0
        # over every dimension in order, then row_number over
        # (_dist, _cell) — on the same driver-resident centroids the
        # relational path broadcast. Removes a crossJoin + window +
        # exchange per search.
        d = np.zeros((len(qids), len(cent)), dtype=np.float64)
        for j in range(dim):
            dj = qmat[:, j, None] - cmat[None, :, j]
            d += dj * dj
        probes = [
            cid_arr[np.lexsort((cid_arr, d[qi]))[:n_probe]]
            for qi in range(len(qids))
        ]
        cand = (
            index.table
            if index.table is not None
            else codes.join(cells, "neighbor_id")
        )
        cents_map = (
            {int(c): np.asarray(v, dtype=np.float64) for c, v in cent}
            if residual
            else None
        )
        return _adc_scan_topk(
            cand, k, qids, qmat, _books_np(books, m, sub_dim),
            queries.schema[id_col].dataType.simpleString(),
            probes=probes, cents=cents_map,
        )

    cdf = CL._centroid_df(queries, index.cents)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    probe_w = Window.partitionBy("query_id").orderBy("_dist", "_cell")
    probes = (
        q.crossJoin(F.broadcast(cdf))
        .select(
            "query_id",
            F.col("cid").alias("_cell"),
            CL._sq_dist(F.col("_qv"), F.col("cv")).alias("_dist"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= n_probe)
        .select("query_id", "_cell")
    )

    sub_dim = dim // m
    cb = _codebook_df(spark, books)
    if residual:
        # LUT per (query, probed cell): distances from the query's
        # RESIDUAL against that cell's centroid — the table the ADC
        # sums against codes that store residuals.
        qres = (
            q.join(probes, "query_id")
            .join(F.broadcast(cdf), F.col("_cell") == F.col("cid"))
            .select(
                "query_id", "_cell",
                F.zip_with("_qv", "cv", lambda x, y: x - y).alias("_qr"),
            )
        )
        qsub = qres.select(
            "query_id", "_cell",
            F.expr(_inline_subvectors("_qr", m, sub_dim)),
        )
        lut = qsub.join(F.broadcast(cb), "sub").select(
            "query_id", "_cell", "sub", F.col("cid").alias("code"),
            _sq_dist(F.col("sv"), F.col("cv"), sub_dim).alias("d"),
        )
        lut_keys = ["query_id", "_cell", "sub", "code"]
    else:
        q_exploded = _explode_subvectors(
            queries, m, sub_dim, id_col, vec_col, out_id="query_id"
        )
        lut = q_exploded.join(F.broadcast(cb), "sub").select(
            "query_id", "sub", F.col("cid").alias("code"),
            _sq_dist(F.col("sv"), F.col("cv"), sub_dim).alias("d"),
        )
        lut_keys = ["query_id", "sub", "code"]
    if index.table is not None:
        # Fused index: (neighbor_id, _cell, codes) is one relation, so
        # the only join the candidate side needs is the broadcast probe
        # pruning — no corpus-sized codes ⋈ cells sort-merge join.
        cand = index.table.join(F.broadcast(probes), "_cell")
    else:
        cand = codes.join(cells, "neighbor_id").join(
            F.broadcast(probes), "_cell"
        )
    scored = (
        cand.select(
            "query_id", "_cell", "neighbor_id",
            F.posexplode("codes").alias("sub", "code"),
        )
        .join(F.broadcast(lut), lut_keys)
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist", "rank")
    )
