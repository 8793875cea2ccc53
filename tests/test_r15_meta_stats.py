"""r15: parquet-footer row counts (tables.table_num_rows) must agree
exactly with a real Spark count — the regime guards and adaptive-L
knob now read footer stats instead of scheduling a count job — and
the analyzed-scan cache must expose an invalidation hook (ADVICE r14).
"""

from __future__ import annotations

import pytest

from compendium_spark import tables
from compendium_spark.tables import clear_scan_cache, load, table_num_rows

from .conftest import SF_SMOKE


@pytest.mark.parametrize("name", list(tables.TABLE_NAMES))
def test_footer_count_matches_spark_count(spark, name):
    assert table_num_rows(spark, SF_SMOKE, name) == load(spark, SF_SMOKE, name).count()


def test_missing_table_returns_none(spark):
    assert table_num_rows(spark, "/nonexistent", "documents") is None


def test_clear_scan_cache(spark):
    load(spark, SF_SMOKE, "nation")
    assert tables._scan_cache
    clear_scan_cache()
    assert not tables._scan_cache


def test_guard_still_fires_on_fallback_count(spark, monkeypatch):
    # stats miss → the guard must fall back to a real count job and
    # still enforce the regime bound
    from compendium_spark.plans import extended

    monkeypatch.setattr(extended, "table_num_rows", lambda *_: None)
    monkeypatch.setattr(extended, "EXACT_SHINGLE_MAX_DOCS", 1)
    with pytest.raises(extended.ExactOracleRegimeError):
        extended.dedup_containment(spark, SF_SMOKE)


def test_guard_fires_from_footer_stats(spark, monkeypatch):
    from compendium_spark.plans import extended

    monkeypatch.setattr(extended, "EXACT_COSINE_MAX_VECTORS", 1)
    with pytest.raises(extended.ExactOracleRegimeError):
        extended.dedup_embedding_cosine(spark, SF_SMOKE)
