"""``ingest.read_parquet``: the table schema from one footer read on the
driver. It must give exactly the frame ``spark.read.parquet`` gives
(schema, partition columns, rows) without its inference job, and leave
every case it cannot prove to Spark's own inference."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from net_spider_spark import ingest
from net_spider_spark.attributes import typed_findings_to_df
from net_spider_spark.findings import FoundLink, FoundNode, findings_to_df
from net_spider_spark.incremental import update_latest_state


def _findings(spark, n=40):
    return findings_to_df(
        spark,
        [
            FoundNode(
                f"n{(i * 7) % 11}",
                86_400_000 * (i % 3) + i,
                [FoundLink(f"n{(i + 1) % 11}", link_attrs={"w": str(i)})],
                {"rank": str(i)},
            )
            for i in range(n)
        ],
    )


def _rows(df):
    return sorted(map(str, df.collect()))


def _assert_parity(spark, path, jobs_allowed=0):
    jobs = spark_jobs(spark)
    got = ingest.read_parquet(spark, path)
    assert jobs() <= jobs_allowed, jobs.describe()
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    return got


def test_day_partitioned_history(spark, tmp_path):
    path = str(tmp_path / "hist")
    ingest.write_findings(_findings(spark), path)
    ingest.write_findings(_findings(spark, 10), path)  # a second append
    got = _assert_parity(spark, path)
    assert isinstance(got.schema["found_day"].dataType, T.DateType)


def test_state_directory(spark, tmp_path):
    path = str(tmp_path / "state")
    update_latest_state(spark, path, _findings(spark))
    _assert_parity(spark, path)


def test_cleared_table(spark, tmp_path):
    path = str(tmp_path / "hist")
    ingest.write_findings(_findings(spark), path)
    ingest.clear_all(spark, path)
    assert _assert_parity(spark, path).count() == 0


def test_typed_attribute_table(spark, tmp_path):
    node = T.StructType([
        T.StructField("rank", T.LongType()),
        T.StructField("active", T.BooleanType()),
    ])
    link = T.StructType([T.StructField("weight", T.DoubleType())])
    df = typed_findings_to_df(
        spark,
        [
            FoundNode("n1", 1000, [FoundLink("n2", "to_subject",
                                             {"weight": 1.5})],
                      {"rank": 3, "active": True}),
            FoundNode("n2", 2000, [], {"rank": 4, "active": None}),
        ],
        node_attrs=node,
        link_attrs=link,
    ).withColumn("node_attrs", F.col("node_attrs").alias(
        "node_attrs", metadata={"comment": "typed"}))
    path = str(tmp_path / "typed")
    ingest.write_findings(df, path)
    got = _assert_parity(spark, path)
    assert got.schema["node_attrs"].dataType == node
    assert got.schema["node_attrs"].metadata == {"comment": "typed"}


def test_file_without_spark_schema_falls_back(spark, tmp_path):
    # A file written by another tool has no Spark row schema in its
    # footer: Spark's inference (one job) decides the schema.
    path = tmp_path / "arrow"
    path.mkdir()
    pq.write_table(
        pa.table({"a": pa.array([1, 2], pa.int32()), "b": ["x", None]}),
        str(path / "part-0.parquet"),
    )
    jobs = spark_jobs(spark)
    got = ingest.read_parquet(spark, str(path))
    assert jobs() >= 1, jobs.describe()
    assert got.schema == spark.read.parquet(str(path)).schema


def test_merge_schema_falls_back(spark, tmp_path):
    # Under mergeSchema the table's schema is the union of every
    # footer, which one file cannot give.
    path = str(tmp_path / "merged")
    spark.range(3).write.parquet(path)
    spark.range(3).withColumn("extra", F.lit("x")).write.mode(
        "append").parquet(path)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        jobs = spark_jobs(spark)
        got = ingest.read_parquet(spark, path)
        assert jobs() >= 1, jobs.describe()
        assert got.schema == spark.read.parquet(path).schema
        assert got.columns == ["id", "extra"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_picks_the_file_spark_picks(spark, tmp_path):
    # Without mergeSchema Spark takes the schema of the lexicographically
    # first listed file; "_" and "." files are not listed.
    path = tmp_path / "two"
    path.mkdir()
    for name, df in [
        ("part-b.parquet", spark.range(2)),
        ("part-a.parquet", spark.range(2).withColumn("extra", F.lit(1))),
    ]:
        out = str(tmp_path / name)
        df.coalesce(1).write.parquet(out)
        (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        os.rename(os.path.join(out, part), path / name)
    for hidden in ("_hidden.parquet", ".hidden.parquet"):
        pq.write_table(pa.table({"z": [1]}), str(path / hidden))
    got = _assert_parity(spark, str(path))
    assert got.columns == ["id", "extra"]


def test_missing_path_raises_like_spark(spark, tmp_path):
    path = str(tmp_path / "absent")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        spark.read.parquet(path)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        ingest.read_parquet(spark, path)
