import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapchete_xarray_spark import queries as _q  # noqa: E402

# The reference's s2 fixture: the scenes `s2_stack_ingest` reads and the
# golden zarr its oracle reads.  Tests tied to that one registry entry
# gate on these very paths and run wherever the fixture exists.
S2_FIXTURES_PRESENT = os.path.isdir(_q._S2_DIR) and os.path.isdir(_q._S2_GOLDEN)
S2_FIXTURES_MISSING = (
    f"reference s2 fixture absent: needs {_q._S2_DIR} and {_q._S2_GOLDEN}"
)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("mapchete_xarray_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it launched), counted through
    a job group once the listener bus has fed the status store."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` → (fn's result, Spark jobs it launched): the
    job-budget probe plan-budget tests assert against."""
    return lambda fn: _jobs(spark, fn)
