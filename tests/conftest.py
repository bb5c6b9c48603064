import uuid

import pytest

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", cpus="8")
    yield spark
    # release memoized frames at session end so test invocations don't
    # leave pinned storage behind (r8 advisor: release_all was wired
    # only into bench.py)
    cachereg.release_all()


def spark_jobs_of(spark, fn):
    """Run ``fn()`` under a fresh job group; return its result and the
    number of Spark jobs it launched. The listener bus is drained
    before counting, so a job that already finished is never missed."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))
