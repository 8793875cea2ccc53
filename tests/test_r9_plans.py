"""Semantic pins for the round-9 plans.

Their sf0.1 oracle parity, shuffle-partition invariance and repeat-run
stability are rows of the parity matrix in tests/test_parity.py; this
file pins the semantics a value-hash can't express (nested-probe
monotonicity, decomposition identity, trained-model quality).
"""

from __future__ import annotations

from compendium_spark.plans import extended, ivf, scoring, streaming_plans, text, timeseries

from .conftest import SF_ORACLE
from .test_parity import _duck_conn


def test_dsir_target_slice_scores_higher(spark):
    """DSIR's defining property: documents FROM the target domain
    (lang='en') must average a higher importance weight than the rest
    of the raw corpus — the weight is the target-vs-raw log-ratio."""
    import pandas as pd

    got = scoring.curate_dsir_weights(spark, SF_ORACLE).toPandas()
    langs = (
        _duck_conn(SF_ORACLE)
        .execute("SELECT doc_id, lang FROM documents")
        .df()
    )
    m = pd.merge(got, langs, on="doc_id")
    mean_en = m.loc[m.lang == scoring.DSIR_TARGET_LANG, "dsir_weight"].mean()
    mean_rest = m.loc[m.lang != scoring.DSIR_TARGET_LANG, "dsir_weight"].mean()
    assert mean_en > mean_rest, (mean_en, mean_rest)


def test_tuning_curve_monotone(spark):
    """Nested probes ⇒ candidates and recall are non-decreasing in
    nprobe, and cand_share stays a proper fraction."""
    rows = ivf.sim_ivf_tuning_curve(spark, SF_ORACLE).toPandas()
    assert list(rows.nprobe) == ivf.PROBE_SWEEP
    assert rows.n_candidates.is_monotonic_increasing
    assert rows.n_hits.is_monotonic_increasing
    assert (rows.cand_share <= 1.0).all() and (rows.cand_share > 0).all()
    # at max probe depth (8 of 16 cells) recall must clear the floor a
    # uniform random half-corpus scan would average
    assert rows.recall_at_k.iloc[-1] >= 0.5, rows.to_dict("records")


def test_threshold_curve_monotone_and_consistent(spark):
    """Raising tau can only shrink every count; at tau=0.5 (where the
    LSH candidate recall is exact at sf0.01 — dedup_embedding_cosine
    docstring) the pair count must equal the brute-force all-pairs
    count of pairs whose QUANTIZED cosine clears 0.5 — the same 1e-6
    grid semantics the curve counts on (ADVICE r8 #4: filtering the
    brute side on the raw cosine would spuriously drop a pair sitting
    in [0.4999995, 0.5))."""
    rows = extended.emb_dedup_threshold_curve(spark, SF_ORACLE).toPandas()
    assert list(rows.threshold) == extended.EMB_TAU_SWEEP
    for c in ["n_pairs", "n_docs_affected", "n_dropped_greedy"]:
        assert rows[c].is_monotonic_decreasing, c
    assert rows.n_pairs.iloc[0] > 0
    want = _duck_conn(SF_ORACLE).execute("""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
          FROM v
        )
        SELECT COUNT(*) FROM (
          SELECT CAST(FLOOR(CAST((list_sum(list_transform(a.e, (x, i) -> x * b.e[i]))
                   / (a.nrm * b.nrm)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   / 1000000.0 AS cosine
          FROM n a, n b WHERE a.vec_id < b.vec_id
        ) WHERE cosine >= 0.5
    """).fetchone()[0]
    got = int(rows.loc[rows.threshold == 0.5, "n_pairs"].iloc[0])
    assert got == int(want), (got, want)


def test_logreg_actually_learns(spark):
    """The trainer must recover the planted label (more 'spark' than
    'scan' tokens): the learned weight on the pos token's bucket must
    exceed the neg token's bucket weight, and scoring every doc with
    the returned centered-margin model must beat chance on balanced
    accuracy. The scoring SQL normalizes mu by the TOKEN-BEARING doc
    count (lab), matching the trainer (ADVICE r8 #3: COUNT(*) FROM
    documents would scale margins inconsistently if the fixture had
    NULL-text docs)."""
    import hashlib

    train = scoring.train_quality_logreg(spark, SF_ORACLE).toPandas()
    w = dict(zip(train.bucket, train.weight))
    b_pos = int(
        hashlib.md5(scoring.LOGREG_POS_TOKEN.encode()).hexdigest()[:2], 16
    )
    b_neg = int(
        hashlib.md5(scoring.LOGREG_NEG_TOKEN.encode()).hexdigest()[:2], 16
    )
    assert w[b_pos] > 0 > w[b_neg], (b_pos, b_neg, w[b_pos], w[b_neg])
    con = _duck_conn(SF_ORACLE)
    con.execute("CREATE TEMP TABLE wts (bucket INT, weight DOUBLE)")
    con.executemany(
        "INSERT INTO wts VALUES (?, ?)",
        [(int(r.bucket), float(r.weight)) for r in train.itertuples()],
    )
    scored = con.execute(f"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), ' +')) AS token
          FROM documents
        ),
        lab AS (
          SELECT doc_id,
                 SUM(CASE WHEN token = '{scoring.LOGREG_POS_TOKEN}' THEN 1 ELSE 0 END)
                  > SUM(CASE WHEN token = '{scoring.LOGREG_NEG_TOKEN}' THEN 1 ELSE 0 END)
                   AS y
          FROM tok GROUP BY doc_id
        ),
        feat AS (
          SELECT doc_id,
                 ((strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1))
                   AS bucket,
                 COUNT(*) AS cnt
          FROM tok GROUP BY doc_id, bucket
        ),
        mu AS (
          SELECT bucket,
                 SUM(cnt) * 1.0 / (SELECT COUNT(*) FROM lab) AS mu
          FROM feat GROUP BY bucket
        ),
        k AS (
          SELECT SUM(w.weight * mu.mu) AS k
          FROM wts w JOIN mu USING (bucket) WHERE w.bucket >= 0
        ),
        m AS (
          SELECT f.doc_id,
                 SUM(f.cnt * w.weight) - MAX((SELECT k FROM k))
                   + MAX((SELECT weight FROM wts WHERE bucket = -1)) AS margin
          FROM feat f JOIN wts w ON f.bucket = w.bucket
          GROUP BY f.doc_id
        )
        SELECT lab.y AS is_target,
               AVG(CASE WHEN (m.margin > 0) = lab.y
                   THEN 1.0 ELSE 0.0 END) AS acc
        FROM m JOIN lab USING (doc_id)
        GROUP BY 1
    """).df()
    by = scored.set_index("is_target")
    balanced = (by.loc[True, "acc"] + by.loc[False, "acc"]) / 2
    assert balanced > 0.7, scored  # planted signal recovered


def test_pq_training_reduces_distortion(spark):
    """The point of Lloyd training: total quantization error
    (min-distance to the nearest codebook entry, summed over vectors
    and subspaces) must be STRICTLY lower under the trained codebooks
    than under the seeded init."""
    import numpy as np

    from compendium_spark.plans.pq import (
        CODEBOOKS,
        K,
        M,
        SUB,
        train_pq_codebooks,
    )

    rows = train_pq_codebooks(spark, SF_ORACLE).toPandas()
    trained = np.zeros((M, K, SUB))
    for r in rows.itertuples():
        trained[r.m, r.k, r.pos - 1] = r.value
    init = np.array(CODEBOOKS)
    emb = (
        _duck_conn(SF_ORACLE)
        .execute("SELECT embedding FROM embeddings ORDER BY vec_id")
        .df()
    )
    X = np.vstack(emb.embedding.to_numpy()).astype(np.float64)

    def distortion(cb):
        total = 0.0
        for m in range(M):
            xs = X[:, m * SUB : (m + 1) * SUB]
            d = ((xs[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
            total += d.min(axis=1).sum()
        return total

    d_init, d_trained = distortion(init), distortion(trained)
    assert d_trained < d_init * 0.98, (d_init, d_trained)


def test_outer_join_emit_once_semantics(spark):
    """Every capped view emits ≥1 row; a view is EITHER null-extended
    (exactly once) OR matched — never both; and the unmatched tail
    near the cutoff actually flushed (the watermark-stall regression
    this plan's transform guards against)."""
    import compendium_spark.streaming.windows as sw

    rows = streaming_plans.streaming_interval_outer_join(
        spark, SF_ORACLE
    ).toPandas()
    views = _duck_conn(SF_ORACLE).execute(
        "SELECT event_id FROM events WHERE event_type = 'view'"
        f" AND ts < TIMESTAMP '{sw.OUTER_JOIN_CUTOFF}'"
    ).df()
    assert set(rows.view_id) == set(views.event_id)
    nulls = rows[rows.click_id.isna()]
    matched = rows[~rows.click_id.isna()]
    assert nulls.view_id.is_unique
    assert not set(nulls.view_id) & set(matched.view_id)
    # the last capped view must be present (tail flushed)
    last_view = _duck_conn(SF_ORACLE).execute(
        "SELECT MAX(event_id) FROM events WHERE event_type = 'view'"
        f" AND ts < TIMESTAMP '{sw.OUTER_JOIN_CUTOFF}'"
    ).fetchone()[0]
    assert last_view in set(rows.view_id)


def test_filtered_topk_respects_predicate(spark):
    """Every returned neighbor must share the query's label, and the
    filtered candidate count must be well below the unfiltered probe
    reach (the pre-filter is really pruning)."""
    rows = ivf.sim_filtered_topk(spark, SF_ORACLE).toPandas()
    labels = dict(
        _duck_conn(SF_ORACLE)
        .execute("SELECT vec_id, label FROM embeddings")
        .fetchall()
    )
    assert len(rows) > 0
    for r in rows.itertuples():
        assert labels[r.cand_id] == labels[r.query_id], r
        assert r.cand_id != r.query_id
    # ~10 labels → filtered candidates ≈ a tenth of the probed reach
    n_corpus = len(labels)
    assert rows.n_candidates.max() < n_corpus / 2


def test_heaps_curve_properties(spark):
    """The full-corpus row must reconcile exactly with the corpus
    (docs, tokens, distinct tokens), cumulative counts must be
    monotone, and vocabulary growth must be SUBLINEAR in tokens over
    the top interval (Heaps' law — the broadcast policy's premise)."""
    rows = text.text_heaps_curve(spark, SF_ORACLE).toPandas()
    assert list(rows.share) == text.HEAPS_SHARES
    for c in ["n_docs", "n_tokens", "n_distinct_tokens"]:
        assert rows[c].is_monotonic_increasing, c
    want = _duck_conn(SF_ORACLE).execute(
        "SELECT (SELECT COUNT(*) FROM documents),"
        " (SELECT SUM(len(string_split_regex(trim(lower(text)), ' +')))"
        "  FROM documents),"
        " (SELECT COUNT(DISTINCT tok) FROM"
        "  (SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS tok"
        "   FROM documents))"
    ).fetchone()
    last = rows.iloc[-1]
    assert int(last.n_docs) == int(want[0])
    assert int(last.n_tokens) == int(want[1])
    assert int(last.n_distinct_tokens) == int(want[2])
    # sublinear growth: vocab grows slower than tokens on the last leg
    prev = rows.iloc[-2]
    tok_ratio = last.n_tokens / prev.n_tokens
    vocab_ratio = last.n_distinct_tokens / prev.n_distinct_tokens
    assert vocab_ratio < tok_ratio, (vocab_ratio, tok_ratio)


def test_seasonal_identity_and_coverage(spark):
    """y == trend + seasonal + remainder (within quantization), and
    every (event_type, hour) cell of the raw table is present."""
    rows = timeseries.ts_seasonal_decompose(spark, SF_ORACLE).toPandas()
    resid = (rows.y - (rows.trend + rows.seasonal + rows.remainder)).abs()
    assert (resid <= 3e-6).all(), resid.max()
    n_cells = (
        _duck_conn(SF_ORACLE)
        .execute(
            "SELECT COUNT(*) FROM (SELECT DISTINCT event_type,"
            " date_trunc('hour', ts) FROM events)"
        )
        .fetchone()[0]
    )
    assert len(rows) == n_cells
