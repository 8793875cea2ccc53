from __future__ import annotations

import pytest

from compendium_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
SF_FULL = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    s = get_session("compendium_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns how many Spark jobs it started (``statusTracker``)."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
