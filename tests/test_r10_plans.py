"""Round-10 plans: fixture-backed ingest, the cross-family ANN
frontier, the MinHash source-overlap rework, and the round-10 on-deck
cohort (split leakage, MMR, more ingest). Their oracle parity at sf0.1,
repeat-run stability and rerun idempotency are rows of the parity
matrix in tests/test_parity.py; this file pins the semantics a
value-hash can't express."""

from __future__ import annotations

import collections

import pytest

from .conftest import SF_FULL, SF_ORACLE
from .test_parity import _duck_conn


# ---------------------------------------------------------------------------
# ingest fixture semantics (the reference edge cases, pinned by value)
# ---------------------------------------------------------------------------


def test_ing_xml_tags_semantics(spark):
    """The documented db.py edge cases, pinned: no-SRA-id sample
    absent, empty-text attribute skipped, harmonized_name precedence,
    last-wins dedup, lower-casing, entity decode."""
    from compendium_spark.plans.ingest import ing_xml_tags

    rows = ing_xml_tags(spark, SF_ORACLE).toPandas()
    tags = {(r.srs, r.tag): r.value for r in rows.itertuples()}
    srs_seen = set(rows.srs)
    assert "SAMN003" not in srs_seen  # no Id[@db='SRA'] → skipped
    assert ("SRS000004", "empty_tag") not in tags  # empty text skipped
    assert tags[("SRS000001", "geo_loc_name")] == "usa: minnesota"  # harmonized + lower
    assert tags[("SRS000002", "collection_date")] == "2020-01-15"  # last wins
    assert tags[("SRS000001", "env_material")] == "gut & feces"  # entity decoded
    assert tags[("SRS000001", "host body product")] == "stool"  # attribute_name fallback
    # attribute-free sample contributes no tag rows
    assert "SRS000005" not in srs_seen


def test_ing_xml_samples_semantics(spark):
    """Sample extraction: SRA-id keying, constant taxon, the
    already-ingested anti-join, and the attribute-free sample KEPT
    (db.py inserts the sample before reading attributes)."""
    from compendium_spark.plans.ingest import TAXON, ing_xml_samples

    rows = ing_xml_samples(spark, SF_ORACLE).toPandas()
    assert set(rows.srs) == {"SRS000001", "SRS000002", "SRS000004", "SRS000005"}
    assert (rows.taxon == TAXON).all()


def test_ing_fasta_pairs_semantics(spark):
    """Strict 2-line pairing: every fixture record present, headers
    stripped of '>', sequences non-empty."""
    from compendium_spark.plans.ingest import FASTA_TEXT, ing_fasta_pairs

    rows = ing_fasta_pairs(spark, SF_ORACLE).toPandas()
    want = {}
    lines = [ln for ln in FASTA_TEXT.split("\n") if ln]
    for h, s in zip(lines[::2], lines[1::2]):
        want[h[1:]] = s
    got = dict(zip(rows.asv, rows.seq))
    assert got == want


def test_ing_summary_disposition_semantics(spark):
    """All three dispositions hit; the re_run short-circuit suppresses
    the retained/chimera messages; the single-end project has NULL
    merged stats and never re_runs; the zero-count control flags
    False (NULL-division semantics)."""
    import math

    from compendium_spark.plans.ingest import ing_summary_disposition

    rows = ing_summary_disposition(spark, SF_ORACLE).toPandas()
    by = {r.project: r for r in rows.itertuples()}
    assert by["PRJ_SAVE"].decision == "save" and by["PRJ_SAVE"].errors == ""
    assert by["PRJ_RERUN"].decision == "re_run"
    assert "merged read count" in by["PRJ_RERUN"].errors
    assert "retained" not in by["PRJ_RERUN"].errors  # short-circuit
    assert by["PRJ_DISCARD"].decision == "discard"
    assert not by["PRJ_DISCARD"].paired
    assert math.isnan(by["PRJ_DISCARD"].merged_warn)  # single-end → NULL
    # PRJ_RERUN has 5 samples incl. the zero-count control; the
    # control's NULL ratios flag False, so proportions divide by 5
    assert by["PRJ_RERUN"].sample_count == 5


# ---------------------------------------------------------------------------
# frontier semantics
# ---------------------------------------------------------------------------


def test_frontier_monotone_and_consistent(spark):
    """Within each family, deeper settings examine MORE candidates and
    recall never decreases (nested candidate sets); hits ≤ 5·nq; the
    ivf rows must agree with sim_ivf_tuning_curve's standalone sweep
    (same machinery, same constants)."""
    from compendium_spark.plans.frontier import FRONT_K, sim_frontier_report
    from compendium_spark.plans.ivf import sim_ivf_tuning_curve

    rows = sim_frontier_report(spark, SF_ORACLE).toPandas()
    assert set(rows.family) == {"ivf", "lsh", "pq"}
    order = {"ivf": "nprobe=", "lsh": "L=", "pq": "R="}
    for fam, pre in order.items():
        sub = rows[rows.family == fam].copy()
        sub["knob"] = sub.setting.str.removeprefix(pre).astype(int)
        sub = sub.sort_values("knob")
        assert sub.n_candidates.is_monotonic_increasing
        assert sub.n_hits.is_monotonic_increasing
        assert sub.recall_at_5.is_monotonic_increasing
        assert sub.cand_share.is_monotonic_increasing
    assert ((rows.recall_at_5 >= 0) & (rows.recall_at_5 <= 1)).all()

    curve = sim_ivf_tuning_curve(spark, SF_ORACLE).toPandas()
    ivf = rows[rows.family == "ivf"].copy()
    ivf["nprobe"] = ivf.setting.str.removeprefix("nprobe=").astype(int)
    merged = ivf.merge(curve, on="nprobe", suffixes=("", "_curve"))
    assert len(merged) == len(ivf)
    assert (merged.n_candidates == merged.n_candidates_curve).all()
    assert (merged.n_hits == merged.n_hits_curve).all()
    assert FRONT_K == 5  # recall_at_5 column name contract


# ---------------------------------------------------------------------------
# overlap-matrix estimator accuracy (VERDICT r9 weak #1 "done" bar)
# ---------------------------------------------------------------------------

_EXACT_OVERLAP_SQL = """
WITH sh AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, len(t) - 1),
                i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
  FROM (SELECT source, string_split_regex(trim(lower(text)), ' +') AS t
        FROM documents)
  WHERE len(t) >= 3
),
per_src AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT g.src_a, g.src_b,
       1.0 * COALESCE(s.n_shared, 0)
         / (pa.n + pb.n - COALESCE(s.n_shared, 0)) AS jac
FROM (SELECT a.source AS src_a, b.source AS src_b
      FROM per_src a JOIN per_src b ON a.source < b.source) g
LEFT JOIN shared s USING (src_a, src_b)
JOIN per_src pa ON g.src_a = pa.source
JOIN per_src pb ON g.src_b = pb.source
"""


@pytest.mark.parametrize("sf_dir", [SF_ORACLE, SF_FULL])
def test_overlap_minhash_vs_exact(spark, sf_dir):
    """The MinHash estimate tracks the exact shingle-set Jaccard (the
    r9 plan this rework replaced, retained here as a DuckDB-only test
    oracle — the hot-shingle self-join is exactly what must never run
    in the registered plan). k=128 lanes ⇒ std-err ≈ 0.088; pin max
    abs delta ≤ 2 std-err and mean ≤ 1/2 std-err."""
    from compendium_spark.plans.text import text_source_overlap_matrix

    got = text_source_overlap_matrix(spark, sf_dir).toPandas()
    exact = _duck_conn(sf_dir).execute(_EXACT_OVERLAP_SQL).df()
    m = got.merge(exact, on=["src_a", "src_b"])
    assert len(m) == len(got) == len(exact)
    delta = (m.est_jaccard - m.jac).abs()
    assert delta.max() <= 0.18, f"max delta {delta.max():.4f}"
    assert delta.mean() <= 0.045, f"mean delta {delta.mean():.4f}"


# ---------------------------------------------------------------------------
# round-10 on-deck cohort semantics
# ---------------------------------------------------------------------------


def test_split_leakage_semantics(spark):
    """Cluster-aware splitting is leak-free by construction: every
    cluster's docs share one eff_split, the totals reconcile with the
    corpus, and the doc-level counterfactual leak count is what the
    clusters + md5 thresholds imply (computed independently here)."""
    from compendium_spark.plans.extended import dedup_cluster_labels
    from compendium_spark.plans.quality import (
        TRAIN_MAX,
        VAL_MAX,
        curate_split_leakage,
    )
    import hashlib

    rows = curate_split_leakage(spark, SF_ORACLE).toPandas()
    n_docs_total = _duck_conn(SF_ORACLE).execute(
        "SELECT COUNT(*) FROM documents"
    ).fetchone()[0]
    assert int(rows.n_docs.sum()) == n_docs_total
    assert rows.doclevel_leaky_clusters.nunique() == 1

    def split_of(key: int) -> str:
        h = hashlib.md5(str(key).encode()).hexdigest()[:8]
        return "train" if h < TRAIN_MAX else ("val" if h < VAL_MAX else "test")

    cl = dedup_cluster_labels(spark, SF_ORACLE).toPandas()
    by_cluster: dict = {}
    for r in cl.itertuples():
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    leaky = sum(
        1
        for docs in by_cluster.values()
        if len({split_of(d) for d in docs}) > 1
    )
    assert int(rows.doclevel_leaky_clusters.iloc[0]) == leaky
    moved = sum(
        1
        for cid, docs in by_cluster.items()
        for d in docs
        if split_of(d) != split_of(cid)
    )
    assert int(rows.n_moved.sum()) == moved


def test_mmr_diversifies(spark):
    """MMR's defining properties: rank-1 equals the pure-relevance
    argmax, every pick is unique, every score is bounded by λ·cosine
    (the penalty term only subtracts when the nearest selected
    neighbor is on the positive side — with negative cosines a later
    score may legitimately EXCEED an earlier one, so monotonicity is
    deliberately not asserted), and the λ-tradeoff actually fires
    somewhere: at least one later-rank pick is NOT the
    next-best-by-cosine candidate."""
    from compendium_spark.plans.mmr import MMR_K, sim_mmr_topk

    rows = sim_mmr_topk(spark, SF_ORACLE).toPandas()
    assert set(rows["rank"]) == set(range(1, MMR_K + 1))
    swapped = 0
    for qid, grp in rows.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert grp.cand_id.is_unique
        assert grp.iloc[0].cosine == grp.cosine.max()  # rank-1 = argmax
        # rank-1 has no penalty: score = 0.7 * cosine exactly
        assert abs(grp.iloc[0].mmr_score - 0.7 * grp.iloc[0].cosine) < 1e-9
        by_cos = grp.sort_values(
            ["cosine", "cand_id"], ascending=[False, True]
        ).cand_id.tolist()
        if grp.sort_values("rank").cand_id.tolist() != by_cos:
            swapped += 1
    assert swapped > 0, "diversity penalty never changed any ranking"


def test_ing_xml_runs_semantics(spark):
    """The db.py:388-438 edges: 0-run package skipped, multi-run
    ;-join with last-wins attrs, BioProject-only external id, LAST
    SAMPLE accession wins, minimal package all-NULL optionals."""
    from compendium_spark.plans.ingest import ing_xml_runs

    rows = {r.srs: r for r in ing_xml_runs(spark, SF_ORACLE).collect()}
    assert "SRS000003" not in rows  # no runs -> skipped
    assert rows["SRS000001"].project == "PRJNA100001"  # GEO id ignored
    assert rows["SRS000002"].srr == "SRR900002;SRR900003"
    assert rows["SRS000002"].pubdate == "2019-06-07 04:05:06"  # last wins
    assert rows["SRS000002"].total_bases == 222
    r4 = rows["SRS000004"]  # last SAMPLE accession keyed the row
    assert (r4.project, r4.library_strategy, r4.pubdate, r4.total_bases) == (
        None, None, None, None,
    )


def test_ing_asv_counts_melt_semantics(spark):
    """Zero cells dropped (P7), all-zero ASV absent entirely."""
    from compendium_spark.plans.ingest import ing_asv_counts_melt

    rows = ing_asv_counts_melt(spark, SF_ORACLE).collect()
    cells = {(r.sample, r.asv): r["count"] for r in rows}
    assert len(rows) == 6  # 12 cells minus 6 zeros
    assert cells[("SRR003", "ASV_1")] == 114
    assert ("SRR002", "ASV_1") not in cells  # zero dropped
    assert not any(a == "ASV_4" for _, a in cells)  # all-zero row gone


# ---------------------------------------------------------------------------
# curate_decontaminate external eval seam (ADVICE r9 #4)
# ---------------------------------------------------------------------------


def test_decontaminate_external_eval(spark):
    """The external-table path the oracle never sees: feed a synthetic
    eval_docs frame and compare against an independently computed
    shared-gram count. Pins the two behaviors that differ from the
    fixture path: train = the FULL corpus (eval-overlapping doc_ids
    are NOT excluded — the % EVAL_MOD filter is fixture-only), and no
    distinct before the semi-join changes the per-doc countDistinct."""
    from compendium_spark.plans.curation import NGRAM_N, curate_decontaminate

    sf = SF_ORACLE
    con = _duck_conn(sf)
    # eval suite = the verbatim text of two corpus documents plus one
    # synthetic doc that shares nothing (its vocabulary is disjoint)
    src = con.execute(
        "SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 2"
    ).fetchall()
    eval_rows = [(900000 + i, text) for i, (_, text) in enumerate(src)]
    eval_rows.append((999999, "zz qq xx " * 10))
    eval_docs = spark.createDataFrame(eval_rows, "doc_id long, text string")

    got = {
        r.doc_id: r.n_shared
        for r in curate_decontaminate(spark, sf, eval_docs=eval_docs).collect()
    }

    # independent expectation: distinct-gram join computed in DuckDB
    # over the same corpus with the eval texts inlined
    eval_sql_rows = " UNION ALL ".join(
        "SELECT " + str(i) + " AS doc_id, '" + text.replace("'", "''") + "' AS text"
        for i, text in eval_rows
    )
    want = dict(
        con.execute(
            f"""
WITH corpus AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - {NGRAM_N} + 2),
                i -> array_to_string(list_slice(t, i, i + {NGRAM_N} - 1), ' ')))
           AS g
  FROM corpus WHERE len(t) >= {NGRAM_N}
),
ev AS (
  SELECT DISTINCT
         unnest(list_transform(range(1, len(t) - {NGRAM_N} + 2),
                i -> array_to_string(list_slice(t, i, i + {NGRAM_N} - 1), ' ')))
           AS g
  FROM (SELECT string_split_regex(trim(text), ' +') AS t
        FROM ({eval_sql_rows}) WHERE len(string_split_regex(trim(text), ' +'))
             >= {NGRAM_N})
)
SELECT g.doc_id, COUNT(DISTINCT g.g)
FROM grams g JOIN ev e ON g.g = e.g
GROUP BY g.doc_id
"""
        ).fetchall()
    )
    assert got == want
    # the two source documents themselves are IN the train side
    # (external path keeps the full corpus) and share all their grams
    for (src_id, _), n in zip(src, [None, None]):
        assert src_id in got, "eval-overlapping corpus doc must stay in train"
        assert got[src_id] == want[src_id] > 0


# ---------------------------------------------------------------------------
# graph_kcore convergence at sf0.1 (ADVICE r9 #1)
# ---------------------------------------------------------------------------


def test_kcore_converged_sf01(spark):
    """ADVICE r9 #1, confirmed live: the old fixed 6-round unroll was
    one round short of the sf0.1 fixpoint (the k=4 cascade there is 7
    removals deep), shipping identical-but-wrong coreness through the
    two-engine parity gate. This pins the r10 fix — Spark iterates to
    convergence; the oracle's KCORE_SQL_ROUNDS unroll must cover the
    cascade — against a pandas-replicated true fixpoint at the BENCH
    scale factor."""
    from compendium_spark.plans.graph import (
        KCORE_MAX_K,
        _sparse_und,
        graph_kcore,
    )

    rows = graph_kcore(spark, SF_FULL).toPandas()
    und = _sparse_und(spark, SF_FULL).toPandas()

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
    for k in range(1, KCORE_MAX_K + 1):
        for n in kcore_nodes(k):
            want[n] += 1
    got = dict(zip(rows.node, rows.coreness))
    all_nodes = set(und.a) | set(und.b)
    assert set(got) == all_nodes
    for n in all_nodes:
        assert got[n] == want.get(n, 0), (n, got[n], want.get(n, 0))
