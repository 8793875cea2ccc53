"""r15: tables.spread_parts — the size gate behind every manual
compute-spread repartition (documents tokenize/shingle sites, the dq
events profile, the multimodal media frame).

The gate must return the full core-count width for every bench SF
(the plan stays byte-identical to the constant it replaced — the r15
width-narrowing probe measured narrower WORSE locally), and must
return None — skip the repartition — once the table's natural scan
splits reach core count, which is the 100 TB regime where the old
unconditional repartition was a full corpus shuffle."""

from __future__ import annotations

import re

import pytest

from compendium_spark import tables
from compendium_spark.session import get_session
from compendium_spark.tables import spread_parts

from .conftest import SF_FULL


@pytest.fixture(scope="module")
def spark():
    return get_session("test_r15_spread_gate")


def test_full_width_at_every_bench_sf(spark):
    par = spark.sparkContext.defaultParallelism
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for table in ("documents", "events", "embeddings"):
            assert spread_parts(spark, f"/root/testdata/{sf}", table) == par


def test_skipped_above_natural_split_threshold(spark):
    par = spark.sparkContext.defaultParallelism
    b = tables.scan_bytes(tables.load(spark, SF_FULL, "documents"))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # exactly at the threshold: par natural splits -> skip
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(-(-b // par)))
        assert spread_parts(spark, SF_FULL, "documents") is None
        # one split short: still spread
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(-(-b // (par - 1))))
        assert spread_parts(spark, SF_FULL, "documents") == par
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_gated_plan_is_byte_identical_at_bench_sf(spark):
    """Under the gate the rewired sites must produce the exact plan
    the old constant produced: a repartition to defaultParallelism
    keyed on doc_id, feeding the same operators."""
    from compendium_spark.plans import all_plans

    df = all_plans()["dedup_minhash_lsh"].fn(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    par = spark.sparkContext.defaultParallelism
    width = rf"RepartitionByExpression \[doc_id#\d+L?\], {par}\b"
    assert re.search(width, plan), plan
