"""knn_join (exact blocked matmul + LSH bucket variant) and int8
embedding quantization."""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from net_spider_spark.pipeline import similarity as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )


def _slow_self_knn(emb, k):
    """Obviously-correct spec: cross join + window."""
    a = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    b = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    scored = (
        a.crossJoin(b)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            S.cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def test_knn_exact_matches_slow_spec(spark, emb):
    fast = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.knn_join(emb, k=3).collect()
    }
    slow = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in _slow_self_knn(emb, 3).collect()
    }
    assert fast == slow


def test_knn_query_corpus_split(spark, emb):
    queries = emb.where(F.col("vec_id") < 10)
    corpus = emb.where(F.col("vec_id") >= 10)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.knn_join(corpus, queries=queries, k=3).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.brute_force_topk(queries, corpus, k=3).collect()
    }
    assert got == want


def test_knn_lsh_recall(spark, emb):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_join(emb, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_join(emb, k=3, method="lsh", n_planes=1).collect()
    }
    # 1 plane = 2 buckets -> every query keeps ~half the corpus;
    # demand recall well above chance.
    assert len(approx & exact) / len(exact) > 0.5


def test_knn_refuses_oversized_broadcast(spark, emb):
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        S.knn_join(emb, k=3, max_broadcast_rows=5)


def test_knn_guard_fires_before_any_vector_materializes(spark, emb):
    """The size guard must run BEFORE the corpus collect: poison the
    vector column with a UDF that throws on evaluation. The guard's
    limit(n+1).count() reads only the id column (column pruning), so
    an over-threshold corpus raises the helpful ValueError; the old
    guard-after-collect order would evaluate the poison UDF (i.e. on a
    real 100 TB corpus: OOM the driver) before ever checking."""
    from pyspark.sql.types import ArrayType, FloatType

    @F.udf(ArrayType(FloatType()))
    def _poison(v):
        raise RuntimeError("vector column materialized before size guard")

    poisoned = emb.select("vec_id", _poison("embedding").alias("embedding"))
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        S.knn_join(poisoned, k=3, max_broadcast_rows=5)


def test_quantize_roundtrip_error(spark, emb):
    q = S.quantize_int8(emb)
    joined = q.join(emb, "vec_id").select(
        "vec_id",
        "scale",
        F.zip_with(
            "embedding",
            "qvec",
            lambda x, qi: F.abs(x.cast("double") - qi * F.col("scale")),
        ).alias("errs"),
        F.array_max(F.transform("qvec", lambda x: F.abs(x))).alias("qmax"),
    )
    rows = joined.collect()
    assert rows
    for r in rows:
        assert r["qmax"] <= 127
        # floor(x/scale + .5) is within scale/2 of x
        assert max(r["errs"]) <= r["scale"] / 2 + 1e-12


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, -2.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: (r["qvec"], r["scale"]) for r in S.quantize_int8(df).collect()}
    assert out[1] == ([0, 0], 0.0)
    qv, sc = out[2]
    assert qv[1] == -127 and abs(sc - 2.0 / 127) < 1e-12
    # floor(1/ (2/127) + .5) = floor(63.5 + .5) = 64
    assert qv[0] == 64


def test_quantized_cosine_close(spark, emb):
    q = S.quantize_int8(emb)
    pairs = (
        q.alias("a")
        .join(q.alias("b"), F.col("a.vec_id") + 1 == F.col("b.vec_id"))
        .select(
            S.dequantize_cosine(F.col("a.qvec"), F.col("b.qvec")).alias("qcos"),
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
        )
    )
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    exact = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.vec_id") + 1 == F.col("b.vec_id"))
        .select(
            S.cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
            F.col("a.vec_id").alias("ia"),
        )
    )
    qm = {r["ia"]: r["qcos"] for r in pairs.collect()}
    em = {r["ia"]: r["cos"] for r in exact.collect()}
    diffs = [abs(qm[i] - em[i]) for i in qm if em.get(i) is not None]
    assert diffs and max(diffs) < 0.02  # int8 keeps cosine within 2%


def test_matryoshka_truncate_unit_norm(spark):
    import math

    from net_spider_spark.pipeline.similarity import matryoshka_truncate

    rows = [(1, [3.0, 4.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 5.0]),
            (3, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in matryoshka_truncate(df, k=2).collect()}
    # (3,4) head -> unit (0.6, 0.8); retention = 5/5 = 1
    assert abs(got[1]["embedding"][0] - 0.6) < 1e-9
    assert abs(got[1]["embedding"][1] - 0.8) < 1e-9
    assert got[1]["retention"] == 1.0
    # all mass outside the head -> zero vector, retention 0
    assert got[2]["embedding"] == [0.0, 0.0] and got[2]["retention"] == 0.0
    assert got[3]["retention"] == 0.0
