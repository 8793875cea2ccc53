"""Value parity of the registered plans against their DuckDB oracles.

``test_oracle_parity`` runs every plan that has an oracle at sf0.01:
run the Spark query and the DuckDB SQL on the same parquet, normalize
(sort columns by name, sort rows), and require equality at the
strength of a value hash. Strict by design — the plans are written for
cross-engine bit-parity (decimal aggregation, md5 hashing, fixed
rounding), so any diff is a real defect.

The parity matrix at the end adds the checks one sf0.01 pass cannot
see, one table and one parametrized test per check: oracle parity one
scale factor up, shuffle-partition invariance, repeat-run stability
and rerun idempotency.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from compendium_spark.plans import all_plans
from compendium_spark.tables import TABLE_NAMES

from .conftest import SF_FULL, SF_ORACLE, SF_SMOKE

PLANS = all_plans()
WITH_ORACLE = sorted(n for n, p in PLANS.items() if p.oracle is not None)
ROWS_ONLY = sorted(n for n, p in PLANS.items() if p.oracle is None)


def _duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def _assert_hash_equal(got: pd.DataFrame, want: pd.DataFrame, name: str) -> None:
    """Assert equality at the strength of the driver's value hash.

    ``assert_frame_equal(check_exact=True)`` still treats ``-0.0 ==
    0.0`` — but the driver serializes cell bytes, so a signed zero on
    one engine only IS a hash mismatch (the round-4 ``emb_covariance``
    red row, cell (6,10)). Float columns are therefore compared
    BITWISE via an int64 view; NaN==NaN is accepted (both engines
    serialize the canonical quiet NaN).
    """
    import numpy as np

    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    # dtype KIND must agree (int vs float): the driver's value hash
    # serializes cells, so int 50917 vs float 50917.0 hash-mismatch even
    # when numerically equal (the round-1 mm_feature_pipeline red row —
    # DuckDB HUGEINT→float). Width (int32 vs int64) and datetime unit
    # differences serialize identically and are allowed.
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        norm = lambda k: "i" if k in "iu" else k
        assert norm(gk) == norm(wk), (
            f"{name}.{c}: dtype kind {got[c].dtype} vs {want[c].dtype} — "
            f"would hash-mismatch in the driver gate"
        )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    for c in got.columns:
        if got[c].dtype.kind == "f":
            g = got[c].to_numpy(dtype="float64")
            w = want[c].to_numpy(dtype="float64")
            bit_same = g.view("int64") == w.view("int64")
            both_nan = np.isnan(g) & np.isnan(w)
            bad = ~(bit_same | both_nan)
            if bad.any():
                i = int(np.argmax(bad))
                raise AssertionError(
                    f"{name}.{c}[{i}]: bitwise float mismatch {g[i]!r} vs "
                    f"{w[i]!r} (e.g. -0.0 vs 0.0, or last-ulp drift) — "
                    f"numerically equal values can still hash-mismatch "
                    f"in the driver gate"
                )


def _run(spark, name: str, sf_dir: str) -> pd.DataFrame:
    return _normalize(PLANS[name].fn(spark, sf_dir).toPandas())


def _assert_same_run(a: pd.DataFrame, b: pd.DataFrame, label: str) -> None:
    """Two runs of one plan: exact dtypes, bitwise floats."""
    assert list(a.dtypes) == list(b.dtypes), f"{label}: dtypes differ"
    _assert_hash_equal(a, b, label)


def _assert_oracle_parity(spark, name: str, sf_dir: str) -> None:
    got = _run(spark, name, sf_dir)
    want = _normalize(_duck_conn(sf_dir).execute(PLANS[name].oracle).df())
    assert len(got) > 0, f"{name}: empty result is a vacuous parity check"
    _assert_hash_equal(got, want, name)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, name):
    _assert_oracle_parity(spark, name, SF_ORACLE)


def test_gate_rejects_signed_zero():
    """The hardened gate must fail a frame differing ONLY by a signed
    zero — the exact failure class assert_frame_equal cannot see."""
    got = pd.DataFrame({"v": [1.5, 0.0]})
    want = pd.DataFrame({"v": [1.5, -0.0]})
    with pytest.raises(AssertionError, match="bitwise float mismatch"):
        _assert_hash_equal(got, want, "signed_zero_probe")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_plans_run(spark, name):
    p = PLANS[name]
    df = p.fn(spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_q1_oracle_rounds_large_decimal_sums(spark, tmp_path):
    """q1's DECIMAL sums past 2^53 unscaled must reach DOUBLE correctly
    rounded on both engines. DuckDB 1.0's direct DECIMAL→DOUBLE cast
    misses by one ulp in both sum_disc_price (scale 8) and sum_charge
    (scale 12) on this fixture (seed 3 is one where it does); Spark
    rounds correctly. Prices carry cents, as in TPC-H: a charge with
    more than 6 decimals would exceed Spark's DECIMAL(38, 6) product."""
    import datetime
    import random
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(3)
    rows = [
        (
            Decimal(rng.randint(80_000_000, 89_999_999)) / 100,
            Decimal(rng.randint(0, 10)) / 100,
            Decimal(rng.randint(0, 8)) / 100,
        )
        for _ in range(2000)
    ]
    n = len(rows)
    pq.write_table(
        pa.table({
            "l_quantity": [1.0] * n,
            "l_extendedprice": [float(p) for p, _, _ in rows],
            "l_discount": [float(d) for _, d, _ in rows],
            "l_tax": [float(t) for _, _, t in rows],
            "l_returnflag": ["N"] * n,
            "l_linestatus": ["F"] * n,
            "l_shipdate": pa.array(
                [datetime.datetime(1995, 1, 1)] * n, pa.timestamp("us")
            ),
        }),
        tmp_path / "lineitem.parquet",
    )
    got = _run(spark, "q1_pricing_summary", str(tmp_path))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'"
    )
    want = _normalize(con.execute(PLANS["q1_pricing_summary"].oracle).df())
    exact = {
        "sum_disc_price": float(sum(p * (1 - d) for p, d, _ in rows)),
        "sum_charge": float(sum(p * (1 - d) * (1 + t) for p, d, t in rows)),
    }
    for col, value in exact.items():
        assert got[col].iloc[0] == value, (col, got[col].iloc[0], value)
    _assert_hash_equal(got, want, "q1_pricing_summary")


# ---------------------------------------------------------------------------
# parity matrix: one table per check, one parametrized test per table
# ---------------------------------------------------------------------------

# oracle parity at sf0.1, one scale factor past test_oracle_parity:
# sf0.01-only checks can hide scale behavior (an unroll one round
# short of the fixpoint, a size gate that flips). The fixture-staged
# ing_* and sink_* plans ignore sf_dir; their rows pin that they do.
SF_FULL_PARITY = [
    # nested probes, decompositions, trainers, streaming outer join
    "curate_dsir_weights",
    "emb_dedup_threshold_curve",
    "sim_filtered_topk",
    "sim_ivf_tuning_curve",
    "streaming_interval_outer_join",
    "text_heaps_curve",
    "train_pq_codebooks",
    "train_quality_logreg",
    "ts_seasonal_decompose",
    # winnowing, DSIR resampling, remainder anomalies, IVF training,
    # k-core fixpoint, MinHash source overlap
    "curate_dsir_resample",
    "curate_mixture_epochs",
    "dedup_winnowing",
    "graph_kcore",
    "text_gopher_rules",
    "text_source_overlap_matrix",
    "train_ivf_centroids",
    "ts_anomaly_remainder",
    # fixture ingest and the ANN frontier
    "curate_split_leakage",
    "ing_asv_counts_melt",
    "ing_fasta_pairs",
    "ing_geo_summary",
    "ing_sources_decisions",
    "ing_summary_disposition",
    "ing_taxonomy",
    "ing_xml_runs",
    "ing_xml_samples",
    "ing_xml_tags",
    "sim_frontier_report",
    "sim_mmr_topk",
    # sink round-trips and the lakehouse write path
    "sink_accessions_roundtrip",
    "sink_archive_roundtrip",
    "sink_cdf_roundtrip",
    "sink_compaction_roundtrip",
    "sink_delete_roundtrip",
    "sink_exactly_once_roundtrip",
    "sink_sources_roundtrip",
    "sink_stats_pruned_scan",
    "sink_timetravel_roundtrip",
]

# bitwise-identical at 3 and 32 shuffle partitions (sf0.001)
PARTITION_INVARIANT = [
    "curate_dsir_resample",
    "curate_dsir_weights",
    "curate_mixture_epochs",
    "dedup_winnowing",
    "emb_dedup_threshold_curve",
    "graph_kcore",
    "sim_filtered_topk",
    "sim_ivf_tuning_curve",
    "streaming_interval_outer_join",
    "text_gopher_rules",
    "text_heaps_curve",
    "text_source_overlap_matrix",
    "train_ivf_centroids",
    "train_pq_codebooks",
    "train_quality_logreg",
    "ts_anomaly_remainder",
    "ts_seasonal_decompose",
]

# bitwise-identical across two runs at sf0.1: plans whose float sums
# feed a quantizer, where a boundary flip is run-to-run
# nondeterminism one parity pass cannot see
REPEAT_STABLE = [
    "curate_dsir_weights",
    "sim_frontier_report",
    "text_source_overlap_matrix",
    "train_ivf_centroids",
    "train_quality_logreg",
    "ts_anomaly_remainder",
    "ts_seasonal_decompose",
]

# identical across two back-to-back runs at sf0.01: these plans stage
# real files (fixtures, warehouses, archives) and wipe their scratch
# dir per run, so a rerun must not double-append
RERUN_IDEMPOTENT = [
    "ing_summary_disposition",
    "ing_xml_tags",
    "sink_accessions_roundtrip",
    "sink_archive_roundtrip",
    "sink_cdf_roundtrip",
    "sink_delete_roundtrip",
    "sink_sources_roundtrip",
    "sink_timetravel_roundtrip",
]


@pytest.mark.parametrize("name", SF_FULL_PARITY)
def test_sf01_parity(spark, name):
    _assert_oracle_parity(spark, name, SF_FULL)


@pytest.mark.parametrize("name", PARTITION_INVARIANT)
def test_partition_invariance(spark, name, monkeypatch):
    """The streaming plans pin their shuffle partitions internally
    (_run_to_memory → STREAM_STATE_PARTITIONS), so for them the sweep
    varies THAT constant — otherwise both runs would execute at the
    same state layout and the check would be vacuous for exactly the
    plans whose state distribution matters."""
    import compendium_spark.streaming.windows as sw

    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def run(n_part: int) -> pd.DataFrame:
        if name.startswith("streaming_"):
            monkeypatch.setattr(sw, "STREAM_STATE_PARTITIONS", n_part)
        else:
            spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        return _run(spark, name, SF_SMOKE)

    try:
        lo, hi = run(3), run(32)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    _assert_hash_equal(lo, hi, f"{name}@partitions")


@pytest.mark.parametrize("name", REPEAT_STABLE)
def test_repeat_run_stable_sf01(spark, name):
    a = _run(spark, name, SF_FULL)
    _assert_same_run(a, _run(spark, name, SF_FULL), f"{name}@repeat")


@pytest.mark.parametrize("name", RERUN_IDEMPOTENT)
def test_rerun_idempotent(spark, name):
    a = _run(spark, name, SF_ORACLE)
    _assert_same_run(a, _run(spark, name, SF_ORACLE), f"{name}@rerun")
