from __future__ import annotations

import os

import pytest

from compendium_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
SF_FULL = "/root/testdata/sf0.1"

# The suite's one driver JVM would otherwise get session.py's 48g heap
# ceiling: over a full run it grows past a 16 GB box's free memory and
# starves the DuckDB oracles that run in the pytest process beside it
# (measured: 10.9 GB driver RSS by the end of test_parity.py). Every
# table here is at most sf0.1, well inside 6g.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


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
