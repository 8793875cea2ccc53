"""Round-9 second batch: winnowing dedup, DSIR resampling, remainder
anomalies, IVF centroid training, k-core, MinHash source overlap.
Their sf0.1 oracle parity, shuffle-partition invariance and repeat-run
stability are rows of the parity matrix in tests/test_parity.py; this
file pins the semantics a value-hash can't express."""

from __future__ import annotations

from .conftest import SF_ORACLE
from .test_parity import _duck_conn


def test_winnowing_positional_guarantee(spark):
    """Winnowing's defining property (Schleimer et al. thm): two docs
    sharing a token run of length >= WINNOW_W + WINNOW_K - 1 share at
    least one fingerprint. Inject two synthetic docs around a shared
    paragraph inside otherwise-different text and require the pair in
    the output — then check whole-doc 3-gram Jaccard is LOW, i.e. this
    modality catches what the Jaccard bar would miss."""
    import pandas as pd

    from compendium_spark.plans.extended import (
        WINNOW_K,
        WINNOW_MIN_SHARED,
        WINNOW_W,
        dedup_winnowing,
    )

    shared = " ".join(f"shared{i}" for i in range(WINNOW_W + WINNOW_K - 1 + 3))
    a_txt = " ".join(f"alpha{i}" for i in range(40)) + " " + shared
    b_txt = shared + " " + " ".join(f"beta{i}" for i in range(40))
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [(1, a_txt, "en", "src"), (2, b_txt, "en", "src")],
            "doc_id long, text string, lang string, source string",
        )
        docs.toPandas().to_parquet(os.path.join(d, "documents.parquet"))
        out = dedup_winnowing(spark, d).toPandas()
    hit = out[(out.doc_a == 1) & (out.doc_b == 2)]
    assert len(hit) == 1, out
    assert int(hit.n_shared.iloc[0]) >= WINNOW_MIN_SHARED
    # whole-doc 3-gram Jaccard of the pair is small (< 0.2): MinHash at
    # the usual 0.5 bar would never pair them
    ta = a_txt.split(); tb = b_txt.split()
    ga = {" ".join(ta[i:i+3]) for i in range(len(ta)-2)}
    gb = {" ".join(tb[i:i+3]) for i in range(len(tb)-2)}
    jac = len(ga & gb) / len(ga | gb)
    assert jac < 0.2, jac


def test_winnowing_density(spark):
    """Fingerprint density must sit near the theoretical 2/(w+1) of
    the k-gram stream (the index-size contract the scale story quotes),
    and every doc with >= WINNOW_K tokens must carry >= 1 fingerprint
    (the guarantee the short-doc window floor preserves)."""
    from compendium_spark.plans.extended import WINNOW_K, WINNOW_W

    con = _duck_conn(SF_ORACLE)
    n_grams, n_docs = con.execute(
        f"SELECT SUM(greatest(len(t) - {WINNOW_K} + 1, 0)),"
        " COUNT(*) FROM (SELECT string_split_regex(trim(lower(text)), ' +')"
        f" AS t FROM documents WHERE len(string_split_regex(trim(lower(text)), ' +')) >= {WINNOW_K})"
    ).fetchone()
    # rebuild the per-doc fingerprint sets exactly as the plan does,
    # BEFORE the hot-fingerprint cap (density is a pre-cap property)
    fp = con.execute("""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ),""" + _winnow_fp_cte() + """
    SELECT CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM fp
    """).fetchone()
    n_fp, docs_with_fp = fp
    assert docs_with_fp == n_docs  # every eligible doc fingerprints
    density = n_fp / n_grams
    assert 0.5 * 2 / (WINNOW_W + 1) < density < 2.5 * 2 / (WINNOW_W + 1), density


def _winnow_fp_cte() -> str:
    """The plan SQL's grams→fp CTE chain, reused by the density test."""
    from compendium_spark.plans.extended import WINNOWING_SQL

    start = WINNOWING_SQL.index("grams AS (")
    end = WINNOWING_SQL.index("live AS (")
    return WINNOWING_SQL[start:end].rstrip().rstrip(",")


def test_dsir_resample_shifts_mixture(spark):
    """The point of importance resampling: the selected subset must be
    ENRICHED in the target domain (lang='en') relative to the raw
    corpus share."""
    from compendium_spark.plans.scoring import (
        DSIR_TARGET_LANG,
        curate_dsir_resample,
    )

    sel = curate_dsir_resample(spark, SF_ORACLE).toPandas()
    con = _duck_conn(SF_ORACLE)
    langs = dict(
        con.execute("SELECT doc_id, lang FROM documents").fetchall()
    )
    raw_share = sum(1 for v in langs.values() if v == DSIR_TARGET_LANG) / len(langs)
    sel_share = sum(
        1 for d in sel.doc_id if langs[d] == DSIR_TARGET_LANG
    ) / len(sel)
    assert sel_share > raw_share, (sel_share, raw_share)


def test_anomaly_cells_are_extreme(spark):
    """Every flagged cell's |remainder| must exceed its type's
    threshold (consistency), and flagged cells must be rare (< 5% of
    the grid — an alert that fires everywhere is a broken alert)."""
    from compendium_spark.plans.timeseries import ts_anomaly_remainder

    rows = ts_anomaly_remainder(spark, SF_ORACLE).toPandas()
    assert len(rows) > 0
    assert (rows.remainder.abs() > rows.threshold).all()
    n_cells = _duck_conn(SF_ORACLE).execute(
        "SELECT COUNT(*) FROM (SELECT DISTINCT event_type,"
        " date_trunc('hour', ts) FROM events)"
    ).fetchone()[0]
    assert len(rows) < 0.05 * n_cells, (len(rows), n_cells)


def test_ivf_training_reduces_distortion(spark):
    """Lloyd on the coarse quantizer must strictly reduce total
    assignment distortion (squared distance to the nearest centroid)
    vs the seeded init."""
    import numpy as np

    from compendium_spark.plans.ivf import CENTROIDS, DIM, N_CELLS, train_ivf_centroids

    rows = train_ivf_centroids(spark, SF_ORACLE).toPandas()
    trained = np.zeros((N_CELLS, DIM))
    for r in rows.itertuples():
        trained[r.cell, r.pos - 1] = r.value
    init = np.array(CENTROIDS)
    emb = (
        _duck_conn(SF_ORACLE)
        .execute("SELECT embedding FROM embeddings ORDER BY vec_id")
        .df()
    )
    X = np.vstack(emb.embedding.to_numpy()).astype(np.float64)

    def distortion(cb):
        d = ((X[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    d_init, d_trained = distortion(init), distortion(trained)
    assert d_trained < d_init * 0.995, (d_init, d_trained)


def test_gopher_rules_split_and_consistency(spark):
    """The named rule battery must actually split the fixture (keeps
    and drops both present), keep must equal the conjunction of the
    flags, and n_passed must count them."""
    from compendium_spark.plans.text import text_gopher_rules

    rows = text_gopher_rules(spark, SF_ORACLE).toPandas()
    flags = ["r_word_count", "r_mean_word_len", "r_symbol_ratio",
             "r_alpha_words", "r_stopwords"]
    assert rows.keep.any() and (~rows.keep).any()
    assert (rows.keep == rows[flags].all(axis=1)).all()
    assert (rows.n_passed == rows[flags].sum(axis=1)).all()
    # at least two distinct rules must actually discriminate on the
    # fixture (not a single-rule filter in disguise)
    assert sum(rows[f].nunique() > 1 for f in flags) >= 2


def test_mixture_epochs_budget_reconciles(spark):
    """Σ target_tokens must equal the budget (± one FLOOR per source),
    epochs must equal target/available, and the over-cap flag must
    match the integer cross-multiply."""
    from compendium_spark.plans.curation import (
        EPOCH_BUDGET_X,
        EPOCH_CAP,
        curate_mixture_epochs,
    )

    rows = curate_mixture_epochs(spark, SF_ORACLE).toPandas()
    total = int(rows.n_tokens.sum())
    budget = EPOCH_BUDGET_X * total
    got = int(rows.target_tokens.sum())
    assert budget - len(rows) <= got <= budget
    for r in rows.itertuples():
        assert abs(r.epochs - r.target_tokens / r.n_tokens) < 2e-6
        assert r.over_cap == (r.target_tokens > EPOCH_CAP * r.n_tokens)


def test_kcore_converged_and_nested(spark):
    """The plan must reach the true fixpoint (r10: the Spark side
    iterates to convergence; the oracle's KCORE_SQL_ROUNDS unroll
    must be deep enough), and cores must be nested (coreness counts
    every k-sweep survived, so the max-coreness nodes form a
    clique-ish dense core with degree >= coreness)."""
    from compendium_spark.plans.graph import (
        KCORE_MAX_K,
        _sparse_und,
        graph_kcore,
    )

    rows = graph_kcore(spark, SF_ORACLE).toPandas()
    assert rows.coreness.max() >= 2  # the fixture has a dense core
    assert rows.coreness.min() >= 0
    # replicate the peel in pandas to the fixpoint and compare
    und = _sparse_und(spark, SF_ORACLE).toPandas()
    import collections

    def kcore_nodes(k):
        edges = {(r.a, r.b) for r in und.itertuples()}
        while True:
            deg = collections.Counter()
            for a, b in edges:
                deg[a] += 1
                deg[b] += 1
            keep = {n for n, d in deg.items() if d >= k}
            new_edges = {(a, b) for a, b in edges if a in keep and b in keep}
            if new_edges == edges:
                return {n for e in edges for n in e}
            edges = new_edges

    want = collections.Counter()
    all_nodes = set(und.a) | set(und.b)
    for k in range(1, KCORE_MAX_K + 1):
        for n in kcore_nodes(k):
            want[n] += 1
    got = dict(zip(rows.node, rows.coreness))
    for n in all_nodes:
        assert got[n] == want.get(n, 0), (n, got[n], want.get(n, 0))


def test_source_overlap_matrix_bounds(spark):
    """Estimated Jaccard in [0, 1], grid complete (C(sources, 2)
    rows), lane agreements bounded by the signature length (columns
    per the round-10 MinHash rework; the est-vs-exact delta pin lives
    in tests/test_r10_plans.py)."""
    from compendium_spark.plans.text import OVERLAP_MH_K, text_source_overlap_matrix

    rows = text_source_overlap_matrix(spark, SF_ORACLE).toPandas()
    n_src = len(set(rows.src_a) | set(rows.src_b))
    assert len(rows) == n_src * (n_src - 1) // 2
    assert ((rows.est_jaccard >= 0) & (rows.est_jaccard <= 1)).all()
    assert ((rows.n_agree >= 0) & (rows.n_agree <= OVERLAP_MH_K)).all()
    assert rows.n_agree.max() > 0  # the shared-vocabulary corpus overlaps
