import os
import sys

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_DIR)

# Worker subprocesses need the same import path to unpickle functions
# defined in test modules (applyInPandas / pandas_udf closures).
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in [_REPO_DIR, _TESTS_DIR, os.environ.get("PYTHONPATH")] if p
)

from pyspark.sql import SparkSession


def spark_jobs(spark):
    """Start counting Spark jobs: returns a function giving the number
    of jobs started since this call (the status tracker's job-id
    delta). Counts jobs outside any job group, which is every job the
    library starts. Its ``describe()`` lists each counted job's id and
    stage names, for an assertion message that names an extra job."""
    tracker = spark.sparkContext.statusTracker()

    def last() -> int:
        return max(tracker.getJobIdsForGroup(None) or [-1])

    first = last()

    def count() -> int:
        return last() - first

    def describe() -> str:
        lines = []
        for job_id in range(first + 1, last() + 1):
            job = tracker.getJobInfo(job_id)
            stages = [tracker.getStageInfo(s) for s in (job.stageIds if job else [])]
            names = [f"{s.stageId} {s.name}" for s in stages if s is not None]
            lines.append(f"job {job_id} ({job.status if job else '?'}): {names}")
        return f"{count()} Spark jobs:\n" + "\n".join(lines)

    count.describe = describe
    return count


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("net_spider_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.warehouse.dir", "/tmp/nss_test_warehouse")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
