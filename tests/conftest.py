from __future__ import annotations

import pytest

from mozart_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mozart-etl-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn) -> (fn(), jobs)``: run ``fn`` under a job group
    of its own and count the Spark jobs launched in that group while it
    ran: from this thread and from worker threads that inherit its
    local properties (jobs a stream runs on its own threads are not
    counted)."""
    import itertools

    sc = spark.sparkContext
    ids = itertools.count()

    def run(fn):
        group = f"test-jobs-{next(ids)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        # job-start events reach the status store through the listener
        # bus asynchronously; drain it before counting
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
