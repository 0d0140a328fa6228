from __future__ import annotations

import contextlib
import uuid

import pytest

from spendinganalysisetl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@contextlib.contextmanager
def spark_jobs(spark):
    """Run the block under a job group of its own; yields a callable that
    returns how many Spark jobs that group has run so far. The count waits
    for the listener bus to drain first, since the status tracker learns
    of jobs asynchronously."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    before = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)

    def count() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        yield count
    finally:
        sc.setLocalProperty("spark.jobGroup.id", before)
