"""The size gates (``tables.spread_parts``, ``maybe_broadcast``,
``table_num_rows``) read the table's size from Spark itself: the
relation's Catalyst statistic and the session's ``maxPartitionBytes``.

Thresholds are forced through the session conf, the same knob a
deployment tunes. These tests pin the converse of the width pin in
``test_r15_spread_gate`` (no repartition node once the gate skips), the
embeddings sizing, that a ``file://`` URI decides exactly like the
plain path, and that no filesystem walk or hardcoded split size comes
back into the gate path. Every gated plan's at-scale branches are
hash-checked in ``test_parity.py`` (``SCALE_REGIME``).
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException

from compendium_spark import tables
from compendium_spark.plans import all_plans
from compendium_spark.plans.extended import EMB_SPREAD_BYTES, _load_embeddings
from compendium_spark.tables import (
    load,
    maybe_broadcast,
    scan_bytes,
    spread_parts,
    table_num_rows,
)

from .conftest import SF_FULL, SF_SMOKE

MPB = "spark.sql.files.maxPartitionBytes"


@pytest.fixture()
def max_partition_bytes(spark):
    """``set(n)`` sets the session's maxPartitionBytes until the test ends."""
    prev = spark.conf.get(MPB)
    yield lambda n: spark.conf.set(MPB, str(n))
    spark.conf.set(MPB, prev)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _decisions(spark, sf_dir: str) -> list:
    out = []
    for name in tables.TABLE_NAMES:
        hinted = "ResolvedHint" in (
            maybe_broadcast(spark, sf_dir, name)._jdf.queryExecution().analyzed().toString()
        )
        out.append((
            name,
            spread_parts(spark, sf_dir, name),
            spread_parts(spark, sf_dir, name, EMB_SPREAD_BYTES),
            hinted,
            table_num_rows(spark, sf_dir, name),
        ))
    return out


@pytest.mark.parametrize("name", ["documents", "embeddings", "lineitem", "supplier"])
def test_scan_bytes_is_the_file_size_without_a_job(spark, spark_jobs, name):
    df = load(spark, SF_FULL, name)
    got = []
    assert spark_jobs(lambda: got.append(scan_bytes(df))) == 0
    assert got == [Path(f"{SF_FULL}/{name}.parquet").stat().st_size]


def test_no_repartition_once_the_gate_skips(spark, max_partition_bytes):
    """The converse of test_r15_spread_gate's width pin: with the
    scan's splits at core count, the gated plan carries no
    RepartitionByExpression at all."""
    plan = all_plans()["dedup_minhash_lsh"].fn
    assert "RepartitionByExpression" in _optimized(plan(spark, SF_SMOKE))
    max_partition_bytes("4k")
    assert spread_parts(spark, SF_SMOKE, "documents") is None
    assert "RepartitionByExpression" not in _optimized(plan(spark, SF_SMOKE))


def test_embeddings_width_from_part_bytes(spark, max_partition_bytes):
    par = spark.sparkContext.defaultParallelism
    b = scan_bytes(load(spark, SF_FULL, "embeddings"))
    width = max(1, min(par, -(-b // EMB_SPREAD_BYTES)))
    assert spread_parts(spark, SF_FULL, "embeddings", EMB_SPREAD_BYTES) == width
    assert re.search(
        rf"RepartitionByExpression \[vec_id#\d+L?\], {width}\b",
        _optimized(_load_embeddings(spark, SF_FULL)),
    )
    # one 193 KB file wants one partition, and its one split already
    # is one: no exchange at all
    assert spread_parts(spark, SF_SMOKE, "embeddings", EMB_SPREAD_BYTES) is None
    assert "RepartitionByExpression" not in _optimized(_load_embeddings(spark, SF_SMOKE))
    # splits past the target also skip the sized spread
    max_partition_bytes(-(-b // width))
    assert spread_parts(spark, SF_FULL, "embeddings", EMB_SPREAD_BYTES) is None


def test_uri_and_plain_path_decide_alike(spark):
    uri = Path(SF_SMOKE).as_uri()
    plain = _decisions(spark, SF_SMOKE)
    assert _decisions(spark, uri) == plain
    assert all(rows is not None for *_, rows in plain)

    def shape(sf_dir: str, name: str) -> str:
        text = _optimized(all_plans()[name].fn(spark, sf_dir))
        text = text.replace(uri, "<sf>").replace(SF_SMOKE, "<sf>")
        return re.sub(r"(_\d+)?#\d+L?", "#", text)

    for name in ("dedup_minhash_lsh", "q3_shipping_priority", "sim_ivf_topk"):
        assert shape(uri, name) == shape(SF_SMOKE, name), name


def test_missing_table_fails_in_load(spark):
    with pytest.raises(AnalysisException):
        spread_parts(spark, "/nonexistent", "documents")


def test_no_filesystem_walk_in_the_gate_path():
    root = Path(__file__).resolve().parents[1] / "compendium_spark"
    for rel in ("tables.py", "plans/extended.py"):
        src = (root / rel).read_text()
        for banned in ("os.walk", "os.path.getsize", "128 * 1024 * 1024"):
            assert banned not in src, f"{rel}: {banned}"
