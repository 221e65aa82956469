from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_lala_spark.session import get_spark

    s = get_spark(app_name="etl_lala_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def job_group(spark):
    """``with job_group(name) as jobs:`` runs the body under Spark job group
    ``name``; on exit, however the body ends, the group is cleared and
    ``jobs`` holds the ids of the jobs the body ran."""
    sc = spark.sparkContext

    @contextmanager
    def counted(name: str):
        jobs: list[int] = []
        sc.setJobGroup(name, name)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            # the status tracker is fed by the listener bus; drain it first
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(name))

    return counted
