import os
import shutil
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MED = os.environ.get("SPARK_GRAFT_SF_MED", "/root/testdata/sf0.01")


def _has_java() -> bool:
    return shutil.which("java") is not None or os.environ.get("JAVA_HOME")


@pytest.fixture(scope="session")
def spark():
    if not _has_java():
        pytest.skip("no JVM available")
    from sax_wasm_spark.session import get_spark

    s = get_spark(app_name="sax-wasm-spark-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def spark_global(spark):
    """Alias for hypothesis @given tests: the underlying fixture is
    session-scoped, so reuse across examples is safe and intended."""
    return spark


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return (its result, the
    number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the async bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
