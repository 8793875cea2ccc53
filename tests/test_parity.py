"""Value parity of the registered plans against their DuckDB oracles.

``test_oracle_parity`` runs every plan that has an oracle at sf0.01:
run the Spark query and the DuckDB SQL on the same parquet, normalize
(sort columns by name, sort rows), and require equality at the
strength of a value hash. Strict by design — the plans are written for
cross-engine bit-parity (decimal aggregation, md5 hashing, fixed
rounding), so any diff is a real defect.

The parity matrix at the end adds the checks one sf0.01 pass cannot
see, one table and one parametrized test per check: oracle parity one
scale factor up, shuffle-partition invariance, repeat-run stability,
rerun idempotency and the size gates' at-scale branches.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

from compendium_spark import tables
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


# at-scale branches of the size gates, on the fixtures: every plan that
# reaches tables.spread_parts, maybe_broadcast or table_num_rows, run
# at sf0.001 addressed as a file:// URI with maxPartitionBytes=4k (so
# every spread gate finds its scan's splits at core count and skips),
# a zero broadcast budget and autoBroadcastJoinThreshold=-1 (no hint,
# no planner broadcast), and table_num_rows answering None (the
# count-job fallback a scheme without footer access takes); shuffle
# partitions rotate through 1/7/64 and AQE alternates, by list index
SCALE_REGIME = [
    "curate_contamination_report",
    "curate_corpus",
    "curate_decontaminate",
    "curate_dsir_resample",
    "curate_dsir_weights",
    "curate_quality_dedup",
    "curate_split_leakage",
    "dedup_cluster_labels",
    "dedup_cluster_stats",
    "dedup_containment",
    "dedup_containment_pipeline",
    "dedup_cross_source_rate",
    "dedup_embedding_cosine",
    "dedup_impact_report",
    "dedup_incremental_lsh",
    "dedup_lsh_tuning_curve",
    "dedup_minhash_lsh",
    "dedup_neardup_pipeline",
    "dedup_ngram_jaccard",
    "dedup_semdedup",
    "dedup_signature_jaccard",
    "dedup_simhash",
    "dq_schema_profile",
    "emb_dedup_threshold_curve",
    "emb_kcenter_init",
    "emb_kcenter_scalable",
    "emb_lang_centroids",
    "emb_matryoshka_recall",
    "graph_2hop_features",
    "graph_common_neighbors",
    "graph_kcore",
    "graph_pagerank",
    "graph_triangle_count",
    "j3_key_remap_join",
    "j5_membership_anti",
    "j6_partial_update_merge",
    "mm_audio_vad",
    "mm_feature_pipeline",
    "mm_frame_sample",
    "mm_scene_cuts",
    "q11_important_stock",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "q20_potential_promotion",
    "q21_waiting_orders",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "sim_cosine_topk",
    "sim_filtered_topk",
    "sim_frontier_report",
    "sim_hybrid_topk",
    "sim_ivf_cells",
    "sim_ivf_topk",
    "sim_ivf_tuning_curve",
    "sim_ivfpq_topk",
    "sim_knn_graph",
    "sim_knn_graph_multiprobe",
    "sim_lsh_buckets",
    "sim_lsh_topk",
    "sim_mips_topk",
    "sim_mmr_topk",
    "sim_multiprobe_topk",
    "sim_pq_adc_topk",
    "sim_pq_codes",
    "sim_range_search",
    "sim_recall_report",
    "sim_rrf_fusion",
    "text_bm25_topk",
    "text_boilerplate_shingles",
    "text_heaps_curve",
    "text_ngram_novelty",
    "text_shingle_containment",
    "text_source_overlap_matrix",
    "text_tfidf_log",
    "text_tfidf_topk",
    "train_ivf_centroids",
    "train_pq_codebooks",
    "train_quality_logreg",
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


SCALE_SHUFFLE_PARTITIONS = (1, 7, 64)


def _record_gates(mp: pytest.MonkeyPatch) -> list[tuple[str, str, bool]]:
    """Wrap the size gates wherever a module holds them; returns the
    log of (gate, table, took the large branch) appended per call.
    table_num_rows is forced to its count-job fallback."""
    log: list[tuple[str, str, bool]] = []
    spread, bcast = tables.spread_parts, tables.maybe_broadcast

    def spread_parts(spark, sf_dir, name, part_bytes=None):
        parts = spread(spark, sf_dir, name, part_bytes)
        log.append(("spread_parts", name, parts is None))
        return parts

    def maybe_broadcast(spark, sf_dir, name, df=None):
        out = bcast(spark, sf_dir, name, df)
        base = df if df is not None else tables.load(spark, sf_dir, name)
        log.append(("maybe_broadcast", name, out is base))
        return out

    def table_num_rows(spark, sf_dir, name):
        log.append(("table_num_rows", name, True))
        return None

    wrappers = {
        "spread_parts": (spread, spread_parts),
        "maybe_broadcast": (bcast, maybe_broadcast),
        "table_num_rows": (tables.table_num_rows, table_num_rows),
    }
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("compendium_spark"):
            continue
        for attr, (orig, wrapper) in wrappers.items():
            if getattr(mod, attr, None) is orig:
                mp.setattr(mod, attr, wrapper)
    mp.setattr(tables, "BROADCAST_BUDGET_BYTES", 0)
    return log


@pytest.mark.parametrize("name", SCALE_REGIME)
def test_scale_regime(spark, name):
    """Every gate must take its large branch (a regime that fails to
    flip one is not a pass), and the result must still be hash-equal
    to the oracle on the plain path, or bitwise-equal to the plan's
    own default-regime run when it has no oracle."""
    i = SCALE_REGIME.index(name)
    confs = {
        "spark.sql.files.maxPartitionBytes": "4k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": str(SCALE_SHUFFLE_PARTITIONS[i % 3]),
        "spark.sql.adaptive.enabled": "true" if i % 2 else "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    with pytest.MonkeyPatch.context() as mp:
        log = _record_gates(mp)
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            got = _run(spark, name, Path(SF_SMOKE).as_uri())
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
    assert log, f"{name}: reached no size gate"
    small = [call for call in log if not call[2]]
    assert not small, f"{name}: gates took the small branch: {small}"
    if PLANS[name].oracle is None:
        _assert_same_run(got, _run(spark, name, SF_SMOKE), f"{name}@scale")
    else:
        want = _normalize(_duck_conn(SF_SMOKE).execute(PLANS[name].oracle).df())
        _assert_hash_equal(got, want, f"{name}@scale")
