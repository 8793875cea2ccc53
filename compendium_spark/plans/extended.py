"""Training-data-pipeline operators: deduplication & similarity search.

These are the north-star extensions (BASELINE.json): exact dedup,
n-gram Jaccard near-dup, MinHash-LSH candidate generation, SimHash
signatures, and embedding cosine top-k / near-dup.

Hash-parity design: every hash used here is ``md5`` — bit-identical in
Spark and DuckDB — so even the sketching operators have full SQL
oracles (the usual xxhash/murmur sketches are engine-specific).
At production scale you would swap md5 for xxhash64 (cheaper); the
operator shapes are identical.

Scale notes (100 TB):
  * shingling + min-hashing is map-side only (explode → groupBy doc);
    the only shuffle is on doc_id, and signatures are tiny.
  * LSH banding turns the O(n²) pair space into per-band buckets;
    the band self-join shuffles on band key. Hot buckets (boilerplate
    text) are the skew risk → AQE skew-join handles, or cap bucket
    size with a count filter before the join.
  * brute-force cosine is the correctness baseline; the scale path
    broadcasts the (small) query set against the sharded corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from compendium_spark.functions.numeric import quantize6
from compendium_spark.localframe import local_df
from compendium_spark.plans.registry import plan
from compendium_spark.tables import (
    load,
    maybe_broadcast,
    spread_parts,
    table_num_rows,
)

# ---------------------------------------------------------------------------
# exact-oracle regime guards (VERDICT r13 #2)
# ---------------------------------------------------------------------------


class ExactOracleRegimeError(RuntimeError):
    """An exhaustive exact-verify plan was invoked above its
    documented input regime. Three plans keep deliberately exhaustive
    shapes as SAMPLE-SCALE EXACT ORACLES (dedup_embedding_cosine's
    L·n²/2^k candidate volume, dedup_containment's and
    dedup_ngram_jaccard's Σ C(shingle-bucket, 2) self-join — measured
    decade slopes +2.13 / +1.21, SCALING.md); above the budget they
    melt (490 s at 2×10⁴ vectors) while their registered scale-path
    twins (dedup_semdedup, dedup_containment_pipeline,
    dedup_neardup_pipeline) stay sublinear. A 100× caller now fails
    in milliseconds with the twin named, instead of discovering the
    quadratic the slow way — the same fail-loud demotion precedent as
    the r7 crossJoin re-registration."""


# dedup_embedding_cosine: candidates = L·n²/2^k with k=4 — the
# measured wall at n=2×10⁴ is 490 s; ≤10⁴ vectors is the documented
# exact-verify regime (sf0.1 gate runs at n=2000).
EXACT_COSINE_MAX_VECTORS = 10_000
# shingle self-joins: the corpus-saturated fixture maps 5×10³ docs to
# 1.27M join pairs and 5×10⁴ docs to 118M (slope +1.21); ≤10⁴ docs
# keeps the exhaustive verify under ~5M pairs.
EXACT_SHINGLE_MAX_DOCS = 10_000


def _guard_exact_regime(n: int, budget: int, plan_name: str, unit: str, twin: str) -> None:
    """Fail-fast input-size check for the exhaustive exact oracles.
    The count is a parquet metadata read (milliseconds; r15 made the
    call sites actually read footer stats via tables.table_num_rows
    instead of running a Spark count job), so a caller who should be
    on the pipeline twin learns it before any shuffle is scheduled.
    MUST NOT fire at gated SFs (sf0.001/0.01/0.1 all sit well under
    budget — pinned in tests/test_r14_guards.py)."""
    if n > budget:
        raise ExactOracleRegimeError(
            f"{plan_name}: {n} {unit} exceeds the {budget}-{unit} "
            f"exact-verify regime this exhaustive oracle is documented "
            f"for; use {twin} (the registered scale path) on corpora "
            "this size."
        )


# ---------------------------------------------------------------------------
# shared shingling expressions
# ---------------------------------------------------------------------------


def _tokens() -> Column:
    return F.split(F.trim(F.col("text")), " +")


def _shingles(k: int = 3) -> Column:
    """Distinct k-word shingles of `text` as an array<string> column.

    Built-in-only: sequence over start offsets + slice + concat_ws,
    then array_distinct map-side (dedup before the explode/shuffle).
    This is the COLUMN-LEVEL SPEC that _SHINGLES_SQL mirrors and that
    tests can evaluate standalone; the production path is
    _doc_shingles below (same expression, tokens materialized first —
    the inline form re-runs the split per offset, see
    curate_decontaminate's round-7 fix).
    """
    toks = _tokens()
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(F.when(n >= k, grams).otherwise(F.array()))


def _doc_shingles(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, shingle) rows, parallelized.

    Two deliberate physical choices:
      * repartition before the shingle computation — the testdata table
        is a single parquet file (one input split), which would run all
        hashing on one core; at 100 TB the source has thousands of
        splits and this repartition becomes a no-op to remove;
      * tokens materialized once into a column so the split isn't
        re-evaluated inside the per-offset lambda.

    ``docs`` lets a caller pass a pre-filtered document frame (the
    r14 verify-side prefilter: shingle only the docs that appear in a
    candidate pair) — the default is the full corpus.
    """
    if docs is None:
        docs = load(spark, sf_dir, "documents")
    # size-gated spread (tables.spread_parts): core-count width while
    # the table is split-starved, mechanically skipped once the scan's
    # natural splits reach core count — the "no-op to remove at 100 TB"
    # these docstrings used to promise by hand
    parts = spread_parts(spark, sf_dir, "documents")
    toks = (docs.repartition(parts, "doc_id") if parts else docs).select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("toks")
    )
    n = F.size("toks")
    grams = F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, 3)),
    )
    shingles = F.array_distinct(F.when(n >= 3, grams).otherwise(F.array()))
    return toks.select("doc_id", F.explode(shingles).alias("shingle"))


def _cand_doc_filter(
    spark: SparkSession,
    sf_dir: str,
    cand_ck: DataFrame,
    left: str,
    right: str,
) -> DataFrame:
    """The documents scan semi-joined down to docs appearing in a
    candidate pair.

    The candidate-doc id set is broadcast ONLY under the size gate
    (guide §3.1: broadcast the side that fits). Per-band bucket width
    is bounded by banded-LSH construction, but the TOTAL candidate
    volume grows with corpus size, so a forced hint here would risk
    executor memory at 100 TB (r14 verdict #3). The gate is
    ``tables.maybe_broadcast`` keyed on the documents table's scan
    size — conservative by construction: when the whole corpus
    fits the broadcast budget, the distinct doc-id projection (8
    bytes/row vs full text) certainly does. Under the gate (every
    bench SF) the probe is map-side on the parquet scan with zero new
    exchanges — the unhinted leftsemi planned a SortMergeJoin that
    shuffled the full documents scan (+1 MB shuffle, +2 Exchange per
    consumer at sf0.1, a net loss). Above the gate (100 TB) the hint
    disappears and the semi-join plans from runtime statistics (AQE /
    runtime bloom filter), which is the honest scale behavior."""
    cand_docs = (
        cand_ck.select(F.col(left).alias("doc_id"))
        .union(cand_ck.select(F.col(right).alias("doc_id")))
        .distinct()
    )
    return load(spark, sf_dir, "documents").join(
        maybe_broadcast(spark, sf_dir, "documents", cand_docs),
        "doc_id",
        "leftsemi",
    )


def _cand_shingle_arrays(
    spark: SparkSession,
    sf_dir: str,
    cand: DataFrame,
    left: str = "doc_a",
    right: str = "doc_b",
) -> tuple[DataFrame, DataFrame]:
    """(cand materialized, per-doc shingle arrays FOR CANDIDATE DOCS
    ONLY) — the r14 verify-side prefilter (guide §3.2 semi-join).

    Every LSH→exact-verify pipeline used to rebuild collect_set
    shingle arrays for the WHOLE corpus and then inner-join them to
    the candidate pairs, so non-candidate docs paid tokenize+shingle+
    explode+agg-shuffle for rows the join was about to drop. The
    candidate list is bounded by LSH bucket volume (775 pairs at
    sf0.1), so instead: checkpoint it LAZILY (localCheckpoint
    eager=False — both consumers then reference one RDD, so the LSH
    subtree executes once INSIDE the consuming job, with no separate
    barrier job; measured ~0.6-1.0 s/plan cheaper than eager at
    sf0.1), derive the distinct candidate doc set, and semi-join the
    DOCUMENT SCAN down to those docs before any shingling. The verify-side shingle pass is then
    O(candidate docs), not O(corpus) — at 100 TB that is the
    difference between shingling the corpus twice and shingling it
    once plus a candidate-sized second pass. Inner joins on
    (doc_a, doc_b) already discarded every non-candidate doc, so the
    emitted rows are identical.
    """
    cand_ck = cand.localCheckpoint(eager=False)
    docs = _cand_doc_filter(spark, sf_dir, cand_ck, left, right)
    # sh_arr is consumed twice (the pair's a-side and b-side); without
    # a checkpoint each reference re-runs the scan+shingle+agg subtree.
    sh_arr = (
        _doc_shingles(spark, sf_dir, docs=docs)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .localCheckpoint(eager=False)
    )
    return cand_ck, sh_arr


# DuckDB mirror of _shingles(3): 1-based starts 1..len-2, inclusive slices.
_SHINGLES_SQL = (
    "list_distinct(CASE WHEN len(string_split_regex(trim(text), ' +')) >= 3 THEN "
    "list_transform(range(1, len(string_split_regex(trim(text), ' +')) - 1), "
    "i -> array_to_string(string_split_regex(trim(text), ' +')[i:i+2], ' ')) "
    "ELSE [] END)"
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

DEDUP_EXACT_SQL = """
SELECT doc_id, fingerprint,
       CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint)
            THEN TRUE ELSE FALSE END AS is_keeper,
       COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
FROM (SELECT doc_id, md5(text) AS fingerprint FROM documents)
ORDER BY doc_id
"""


@plan("dedup_exact", oracle=DEDUP_EXACT_SQL)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (hash-groupBy; keeper = min doc_id).

    Shuffles only (fingerprint, doc_id) pairs, never the text. At
    100 TB: hash first, shuffle 16-byte keys, resolve keepers, then
    semi-join keepers back against the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint")
    return (
        docs.select("doc_id", F.md5("text").alias("fingerprint"))
        .withColumn("is_keeper", F.col("doc_id") == F.min("doc_id").over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact verify step)
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.2

NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(FLOOR(CAST((1.0 * n_common / (ca.n + cb.n - n_common)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS jaccard
FROM inter
JOIN cnt ca ON doc_a = ca.doc_id
JOIN cnt cb ON doc_b = cb.doc_id
WHERE 1.0 * n_common / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@plan("dedup_ngram_jaccard", oracle=NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity for candidate pairs.

    This is the verify step of near-dedup: pairs sharing ≥1 shingle
    get |A∩B| from a shingle self-join, |A∪B| by inclusion-exclusion.
    At 100 TB this runs only on LSH candidates (dedup_minhash_lsh),
    never all-pairs; integer-ratio math keeps it engine-exact.

    MEASURED standalone cost (r13 sf1.0 decade probe, SCALING.md):
    the self-join materializes Sum C(bucket,2) pairs — 14k at sf0.01,
    1.27M at sf0.1, 118M at sf1.0 (decade slope +1.21) — because the
    fixture's fixed vocabulary saturates the shingle space. This plan
    is the EXACT ORACLE for sample-scale audits; the registered
    full-corpus path is dedup_neardup_pipeline (O(candidates), 100%
    qualifying-pair recall at both gated SFs, measured r13). Inputs
    above {EXACT_SHINGLE_MAX_DOCS} docs raise ExactOracleRegimeError
    in milliseconds instead of running the quadratic (r14).
    """
    _n_docs = table_num_rows(spark, sf_dir, "documents")
    _guard_exact_regime(
        _n_docs
        if _n_docs is not None
        else load(spark, sf_dir, "documents").count(),
        EXACT_SHINGLE_MAX_DOCS,
        "dedup_ngram_jaccard",
        "docs",
        "dedup_neardup_pipeline",
    )
    sh = _doc_shingles(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = F.lit(1.0) * F.col("n_common") / (
        F.col("ca.n") + F.col("cb.n") - F.col("n_common")
    )
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", quantize6(jac).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH candidate generation
# ---------------------------------------------------------------------------

N_HASHES = 8
N_BANDS = 4  # rows per band = 2


def _minhash_sql_sigs() -> str:
    cols = ", ".join(
        f"min(substr(md5(shingle), {4 * i + 1}, 4)) AS s{i}"
        for i in range(N_HASHES)
    )
    return cols


def _minhash_sql_bands() -> str:
    selects = []
    for b in range(N_BANDS):
        lo, hi = 2 * b, 2 * b + 1
        selects.append(
            f"SELECT doc_id, {b} AS band, s{lo} || s{hi} AS bkey FROM sig"
        )
    return " UNION ALL ".join(selects)


MINHASH_LSH_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
sig AS (SELECT doc_id, {_minhash_sql_sigs()} FROM sh GROUP BY doc_id),
bands AS ({_minhash_sql_bands()})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


@plan("dedup_minhash_lsh", oracle=MINHASH_LSH_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: near-dup candidate pairs.

    Permutation i is emulated as hex lane i of ONE md5 per shingle —
    eight 4-hex-char slices tile the 32-char digest exactly, giving 8
    independent 16-bit hash lanes from one digest (8× less hashing
    than md5(i || shingle) per lane; hashing was the dominant map
    cost). 16 bits per lane is plenty for lane-min selection at this
    corpus size; the production swap is xxhash64 with real 64-bit
    lanes. Signature = 8 lane-mins; 4 bands × 2 rows (32-bit band
    keys). Docs sharing any band bucket become candidates.

    Plan: shingle explode → per-doc min-agg (one shuffle on doc_id,
    map-side partial mins) → band explode → self-join on band key.
    At 100 TB the band join is the only quadratic risk — bounded by
    bucket sizes, with AQE skew handling; a production guard drops
    buckets larger than a cap (boilerplate).
    """
    return _minhash_candidates(spark, sf_dir).orderBy("doc_a", "doc_b")


def _minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from minhash band buckets —
    shared by dedup_minhash_lsh and the composed near-dup pipeline."""
    bands = _band_table(spark, sf_dir)
    # bucket-local pair generation instead of a bands self-join: one
    # groupBy collects each bucket's doc ids, and the i<j combinations
    # are expanded with array lambdas map-side. Avoids recomputing the
    # signature subtree for a second join input (no ReusedExchange
    # needed), and makes the quadratic term explicitly bucket-bounded —
    # at 100 TB, cap bucket size here (filter size(ids) < N) to shed
    # boilerplate buckets.
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s0..s{N_HASHES-1}) — per-doc MinHash signature (lane
    mins of one md5 per shingle). The persisted artifact of the index
    build; bands and signature-overlap estimates both derive from it."""
    sh = _doc_shingles(spark, sf_dir).withColumn("h", F.md5("shingle"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.substring(F.col("h"), 4 * i + 1, 4)).alias(f"s{i}")
            for i in range(N_HASHES)
        ]
    )


def _band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bkey) — the LSH band table, i.e. the persisted
    inverted index of production near-dedup: shingle → md5 lanes →
    per-doc signature mins → band keys. Extracted so the batch
    self-dedup (``_minhash_candidates``) and the incremental
    delta-vs-corpus dedup (``dedup_incremental_lsh``) share one
    definition."""
    sig = _sig_table(spark, sf_dir)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(F.col(f"s{2*b}"), F.col(f"s{2*b+1}")).alias("bkey"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")


INCR_LSH_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({{shingles}}) AS shingle FROM documents
),
sig AS (SELECT doc_id, {{sigs}} FROM sh GROUP BY doc_id),
bands AS ({{bands}}),
cand AS (
  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS base_id
  FROM bands d
  JOIN bands c ON d.band = c.band AND d.bkey = c.bkey
  WHERE d.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
),
sh_arr AS (SELECT doc_id, {{shingles}} AS sh FROM documents)
SELECT delta_id, base_id,
       CAST(FLOOR(CAST((1.0 * len(list_intersect(d.sh, c.sh))
             / (len(d.sh) + len(c.sh) - len(list_intersect(d.sh, c.sh)))) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
         AS jaccard
FROM cand
JOIN sh_arr d ON delta_id = d.doc_id
JOIN sh_arr c ON base_id = c.doc_id
WHERE 1.0 * len(list_intersect(d.sh, c.sh))
        / (len(d.sh) + len(c.sh) - len(list_intersect(d.sh, c.sh)))
      >= {{threshold}}
ORDER BY delta_id, base_id
"""


def _incr_lsh_sql() -> str:
    return INCR_LSH_SQL.format(
        shingles=_SHINGLES_SQL,
        sigs=_minhash_sql_sigs(),
        bands=_minhash_sql_bands(),
        threshold=JACCARD_THRESHOLD,
    )


@plan("dedup_incremental_lsh", oracle=_incr_lsh_sql())
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: a new DELTA batch checked against the
    existing BASE corpus — the query a recurring ingest pipeline runs
    every batch, as opposed to the one-shot self-dedup
    (dedup_minhash_lsh / dedup_neardup_pipeline).

    The split is deterministic for the oracle (doc_id % 10 = 0 is the
    delta). Candidates come from an ASYMMETRIC band-key equi-join —
    delta bands against base bands, never base×base — then exact
    shingle-Jaccard verifies each candidate (same integer-ratio math
    as the neardup pipeline).

    100 TB shape: the base band table is the persisted LSH index,
    written bucketed by (band, bkey); each incoming batch bands only
    its own documents (O(delta) map work) and the candidate join
    co-locates on the bucket key without reshuffling the corpus.
    Per-batch cost is O(delta + candidates) and independent of corpus
    size — the property that makes near-dedup sustainable as the
    corpus grows. In this single-session form both filter legs
    recompute the band subtree (Catalyst has no cross-branch CSE for
    differing filters — executed plan shows 2 band builds); that is
    the simulation artifact of deriving base AND delta from one table,
    not the production shape, where the base leg is a plain scan of
    the persisted index and only the delta leg computes signatures.
    """
    bands = _band_table(spark, sf_dir)
    is_delta = F.pmod(F.col("doc_id"), F.lit(10)) == F.lit(0)
    delta = bands.filter(is_delta).select(
        F.col("doc_id").alias("delta_id"), "band", "bkey"
    )
    base = bands.filter(~is_delta).select(
        F.col("doc_id").alias("base_id"), "band", "bkey"
    )
    cand, sh_arr = _cand_shingle_arrays(
        spark,
        sf_dir,
        delta.join(base, ["band", "bkey"]).select("delta_id", "base_id").distinct(),
        left="delta_id",
        right="base_id",
    )
    d = sh_arr.select(F.col("doc_id").alias("delta_id"), F.col("sh").alias("shd"))
    c = sh_arr.select(F.col("doc_id").alias("base_id"), F.col("sh").alias("shc"))
    inter = F.size(F.array_intersect(F.col("shd"), F.col("shc")))
    jac = F.lit(1.0) * inter / (F.size("shd") + F.size("shc") - inter)
    return (
        cand.join(d, "delta_id")
        .join(c, "base_id")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("delta_id", "base_id", quantize6(jac).alias("jaccard"))
        .orderBy("delta_id", "base_id")
    )


# ---------------------------------------------------------------------------
# composed near-dup pipeline: LSH candidates → exact Jaccard verify
# ---------------------------------------------------------------------------

_MINHASH_CAND_SQL_BODY = f"""
sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
sig AS (SELECT doc_id, {{sigs}} FROM sh GROUP BY doc_id),
bands AS ({{bands}}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
"""


def _neardup_sql() -> str:
    body = _MINHASH_CAND_SQL_BODY.format(
        sigs=_minhash_sql_sigs(), bands=_minhash_sql_bands()
    )
    return f"""
WITH {body},
sh_arr AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
SELECT doc_a, doc_b,
       CAST(FLOOR(CAST((1.0 * len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
         AS jaccard
FROM cand
JOIN sh_arr a ON doc_a = a.doc_id
JOIN sh_arr b ON doc_b = b.doc_id
WHERE 1.0 * len(list_intersect(a.sh, b.sh))
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
      >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@plan("dedup_neardup_pipeline", oracle=_neardup_sql())
def dedup_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dedup composition: MinHash-LSH candidate
    generation feeding the exact Jaccard verify — verification cost is
    O(candidates), never O(n²) (contrast dedup_ngram_jaccard, the
    all-pairs baseline the small-scale oracle can still check).

    Shape: candidates shuffle on band buckets; the verify joins fetch
    each doc's (distinct, pre-deduped) shingle array by doc_id and
    compute |A∩B|/|A∪B| with array built-ins — integer ratio, no UDF,
    engine-exact. r14: the verify-side shingle arrays are built only
    for docs appearing in a candidate pair (_cand_shingle_arrays —
    guide §3.2 semi-join prefilter), not the whole corpus.
    """
    cand, sh_arr = _cand_shingle_arrays(
        spark, sf_dir, _minhash_candidates(spark, sf_dir)
    )
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    jac = F.lit(1.0) * inter / (F.size("sha") + F.size("shb") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", quantize6(jac).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash signatures (16-bit, md5-derived for engine parity)
# ---------------------------------------------------------------------------

SIMHASH_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token
  FROM documents
),
bits AS (
  SELECT doc_id, p.p AS pos,
         CAST(FLOOR((strpos('0123456789abcdef',
                            substr(md5(token), CAST(FLOOR(p.p / 4) AS INT) + 1, 1)) - 1)
                    / POW(2, p.p % 4)) AS INT) % 2 AS bit
  FROM tok, (SELECT unnest(range(16)) AS p) p
),
votes AS (
  SELECT doc_id, pos,
         CASE WHEN 2 * SUM(bit) > COUNT(*) THEN 1 ELSE 0 END AS sig_bit
  FROM bits GROUP BY doc_id, pos
)
SELECT doc_id,
       CAST(SUM(sig_bit * CAST(POW(2, pos) AS BIGINT)) AS BIGINT) AS simhash16
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


@plan("dedup_simhash", oracle=SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (token-multiplicity weighted).

    Each token votes its md5-derived bits; signature bit p is the
    majority vote. Near-dup pairs are then found by hamming distance
    on the signature (grouping by signature bands — same LSH shape as
    minhash). md5-nibble bit extraction keeps both engines identical.

    Shape: explode tokens ×16 bit positions → two tiny groupBys on
    (doc, pos) then (doc). All integer math.
    """
    docs = load(spark, sf_dir, "documents")
    parts = spread_parts(spark, sf_dir, "documents")
    tok = (docs.repartition(parts, "doc_id") if parts else docs).select(
        "doc_id", F.explode(_tokens()).alias("token")
    )
    pos = F.explode(F.sequence(F.lit(0), F.lit(15))).alias("pos")
    bits = tok.select(
        "doc_id",
        pos,
        F.md5("token").alias("h"),
    ).select(
        "doc_id",
        "pos",
        (
            F.floor(
                (
                    F.instr(
                        F.lit("0123456789abcdef"),
                        F.substring(
                            F.col("h"), (F.col("pos") / 4).cast("int") + 1, 1
                        ),
                    )
                    - 1
                )
                / F.pow(F.lit(2), F.col("pos") % 4)
            ).cast("int")
            % 2
        ).alias("bit"),
    )
    votes = bits.groupBy("doc_id", "pos").agg(
        F.when(2 * F.sum("bit") > F.count(F.lit(1)), 1).otherwise(0).alias("sig_bit")
    )
    return (
        votes.groupBy("doc_id")
        .agg(
            F.sum(
                F.col("sig_bit") * F.pow(F.lit(2), F.col("pos")).cast("bigint")
            )
            .cast("bigint")
            .alias("simhash16")
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# embedding cosine: brute-force top-k + near-dup pairs
# ---------------------------------------------------------------------------


def _as_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — same accumulation order as
    DuckDB's list_sum, so doubles match bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


EMB_DIM = 64  # embeddings.embedding element count (all SFs)


def _dot_unrolled(a: Column, b: Column, dim: int = EMB_DIM) -> Column:
    """Dot product unrolled to `dim` scalar multiply-adds.

    Higher-order functions (zip_with/aggregate) evaluate their lambda
    per element OUTSIDE whole-stage codegen; for a known fixed dim the
    unrolled expression is pure codegen'd arithmetic (~10× faster on
    the all-pairs paths). Left-to-right addition — the same
    accumulation order as _dot and DuckDB's list_sum, so parity holds
    bit-for-bit.
    """
    out = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, dim + 1):
        out = out + F.element_at(a, i) * F.element_at(b, i)
    return out


# Bytes of embedding payload per spread partition. Each spread
# partition feeds one task of the Arrow bucket/assign kernels, and a
# task's fixed cost is the JVM↔Python worker roundtrip (~60–100 ms
# measured r15); a quarter-MB of 64-dim vectors (~500 rows) is the
# point where kernel compute amortizes that roundtrip. Scale-adaptive
# by construction: the width grows with the table (capped at core
# count) and the repartition disappears entirely once the scan's own
# splits reach it (the 100 TB case — thousands of natural splits).
EMB_SPREAD_BYTES = 256 * 1024


def _load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, spread across cores — width derived from input size.

    The testdata table is one parquet file → one input split → every
    downstream dot product and Arrow kernel on one core; unspread this
    measured 23.7 s vs 19.1 s over 12 embedding plans at sf0.1 (r15).
    But a blanket repartition to defaultParallelism over-spreads a
    tiny table — 32 kernel tasks of ~60 rows each pay 32 Python
    roundtrips for sub-ms of compute apiece (the r14 profile's
    run≫cpu signature: 133 tasks / 17 s task-wall / 1.2 s CPU in
    sim_range_search). So the width comes from the one size gate,
    ``tables.spread_parts`` with ``EMB_SPREAD_BYTES`` per partition:
    ceil(table bytes / 256 KB), capped at core count, and no
    repartition at all once the scan's natural splits cover it — a
    one-split table that needs one partition (sf0.001/sf0.01), or the
    thousands of splits at 100 TB.
    Measured at sf0.1 (width 4 vs 32, min-of-3 over the 12 embedding
    plans): 20.6 → 19.1 s, train_ivf_centroids 1.59 → 0.87 s.
    A dim mismatch cannot pass silently: with ANSI mode on,
    element_at past the array end errors, and a longer real dim makes
    the oracle (which always folds the full list) disagree.
    """
    emb = load(spark, sf_dir, "embeddings")
    parts = spread_parts(spark, sf_dir, "embeddings", EMB_SPREAD_BYTES)
    if parts is not None:
        emb = emb.repartition(parts, "vec_id")
    return emb.select("vec_id", _as_double("embedding").alias("e"))


COSINE_TOPK_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM v
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_sum(list_transform(q.e, (x, i) -> x * c.e[i])) / (q.nrm * c.nrm)
           AS cos_full
  FROM n q, n c
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, cand_id, cos_full,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_full DESC, cand_id) AS rn
  FROM pairs
)
SELECT query_id, cand_id, CAST(FLOOR(CAST((cos_full) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS cosine, rn AS rank
FROM ranked WHERE rn <= 5
ORDER BY query_id, rank
"""


@plan("sim_cosine_topk", oracle=COSINE_TOPK_SQL)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id<10).

    The correctness baseline for ANN. Queries broadcast against the
    corpus (at 100 TB: corpus stays sharded, query side broadcasts,
    per-partition top-k then global top-k — TakeOrdered shape, no full
    sort). Dot products fully unrolled into codegen (no per-element
    lambda interpretation); the corpus side is repartitioned off its
    single input split so all cores work.
    """
    emb = _load_embeddings(spark, sf_dir)
    emb = emb.withColumn("nrm", F.sqrt(_dot_unrolled(F.col("e"), F.col("e"))))
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (
                _dot_unrolled(F.col("qe"), F.col("ce"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos_full"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_full"), "cand_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "cand_id",
            quantize6("cos_full").alias("cosine"),
            F.col("rn").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


# Test-only oracle (tests/test_embedding_cosine_recall.py): the
# brute-force all-pairs dup set. Through round 6 this WAS the
# registered plan (crossJoin(broadcast(corpus)) — the one remaining
# O(n²) registered shape, measured slope +0.60); round 7 demotes it to
# the recall oracle the bucketed plan below is checked against.
COSINE_ALLPAIRS_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM v
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(FLOOR(CAST((list_sum(list_transform(a.e, (x, i) -> x * b.e[i]))
             / (a.nrm * b.nrm)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS cosine
FROM n a, n b
WHERE a.vec_id < b.vec_id
  AND list_sum(list_transform(a.e, (x, i) -> x * b.e[i])) / (a.nrm * b.nrm) >= 0.5
ORDER BY vec_a, vec_b
"""

NEARDUP_THRESHOLD = 0.5
NEARDUP_TOPK = 25


def _cosine_neardup_sql() -> str:
    from compendium_spark.plans.ann import (  # noqa: PLC0415
        N_TABLES_MAX,
        _sql_adaptive_tables_case,
        _sql_probed_tables_union,
        _sql_tables_union,
    )

    l_case = _sql_adaptive_tables_case("(SELECT c FROM cnt)")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
cnt AS (SELECT COUNT(*) AS c FROM embeddings),
n AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM v
),
ent AS (
  SELECT * FROM ({_sql_tables_union("embedding", N_TABLES_MAX)})
  WHERE tbl < ({l_case})
),
pent AS (
  SELECT * FROM ({_sql_probed_tables_union("embedding", N_TABLES_MAX)})
  WHERE tbl < ({l_case})
),
cand AS (
  SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS vec_a,
                  GREATEST(a.vec_id, b.vec_id) AS vec_b
  FROM ent a JOIN pent b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
         CAST(FLOOR(CAST((list_sum(list_transform(x.e, (xx, i) -> xx * y.e[i]))
           / (x.nrm * y.nrm)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
           / 1000000.0 AS cosine
  FROM cand JOIN n x ON vec_a = x.vec_id JOIN n y ON vec_b = y.vec_id
)
SELECT vec_a, vec_b, cosine,
       CASE WHEN cosine >= {NEARDUP_THRESHOLD} THEN 1 ELSE 0 END AS is_dup
FROM scored
ORDER BY cosine DESC, vec_a, vec_b
LIMIT {NEARDUP_TOPK}
"""


def _cosine_verify_kernel(batches):
    """Arrow kernel for the exact-cosine verify over candidate pairs:
    in (vec_a, vec_b, xe, xn, ye, yn), out (vec_a, vec_b, cosine)
    with cosine already FLOOR-quantized to the 6 dp grid. Sequential
    per-dim accumulation — the SAME operation order as the
    _dot_unrolled element_at chain and DuckDB list_sum, so the doubles
    (hence the quantized grid values) are bit-identical; never np.dot
    (blocked accumulation, different rounding)."""
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415

    for pdf in batches:
        if len(pdf) == 0:
            continue
        xe = np.array(pdf["xe"].tolist(), dtype=np.float64)
        ye = np.array(pdf["ye"].tolist(), dtype=np.float64)
        acc = np.zeros(len(pdf), dtype=np.float64)
        for d in range(xe.shape[1]):
            acc += xe[:, d] * ye[:, d]
        cos = acc / (pdf["xn"].to_numpy() * pdf["yn"].to_numpy())
        yield pd.DataFrame(
            {
                "vec_a": pdf["vec_a"],
                "vec_b": pdf["vec_b"],
                "cosine": np.floor(cos * 1e6 + 0.5) / 1e6,
            }
        )


@plan("dedup_embedding_cosine", oracle=_cosine_neardup_sql())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup verify, LSH-bucketed: candidate pairs are
    vectors sharing a sign-LSH bucket in ANY of L hash tables (same
    fixed-seed plane pool as sim_lsh_buckets, embedded as literals in
    plan AND oracle), exact cosine computed for candidates only,
    top-25 by cosine emitted with an `is_dup` flag (cosine ≥ 0.5).
    Pairs with is_dup=1 are the dedup output; the sub-threshold tail
    gives the hash gate a 25-row cosine distribution instead of the
    1-row check the round-6 verdict flagged as near-vacuous.

    Round 8: L is the ADAPTIVE recall knob the r7 verdict asked for —
    L(n) = 4 tables at the 500-vector base, +2 per corpus doubling,
    capped at 16 (ann.adaptive_n_tables; the oracle embeds the same
    integer-threshold CASE ladder, so both engines derive the same L
    from COUNT(*)). Round 9 adds the PROBE knob on top: the index side
    of the candidate join carries one query-directed probe entry per
    (vector, table) — the exact bucket with its lowest-|margin| sign
    bit flipped (ann.bucket_entries_probed; Lv et al. VLDB'07 at probe
    depth 1) — so a borderline pair separated by one near-zero
    hyperplane margin is still a candidate. Recall against the
    brute-force all-pairs dup set (COSINE_ALLPAIRS_SQL, test oracle
    only): exact at sf0.001/sf0.01 (L=4) AND at sf0.1 (L=8; 14/14 —
    the r8 miss was a cosine-0.51 pair whose first exact collision sat
    at table 12, caught by the probe at table 0 for ~1.9× candidate
    volume vs ~1.5× for the L=14 it would otherwise need) — pinned in
    tests/test_embedding_cosine_recall.py. The n for L comes from one
    1-row count job (bounded driver work, same class as the
    max_projects collects).

    Round 7 re-registration: through r6 this plan was the brute-force
    crossJoin(broadcast(corpus)) — O(n²) pairs, measured slope +0.60,
    the last scale-killer in the registry. The all-pairs form survives
    only as the recall oracle above.

    Scale — MEASURED LIMIT (r13 sf1.0 decade probe, SCALING.md):
    candidates = Σ_bucket |b_exact|·|b_probed| per table, and with
    k=4 sign bits (16 buckets) that is L·n²/2^k — quadratic with a
    1/16-per-table constant: 3.6 s at n=2000 (sf0.1) but 490 s at
    n=20000 (slope +2.13). k=4 is the deliberate recall choice for
    the 0.5-cosine threshold (per-table collision (1-θ/π)^k ≈ 0.2 at
    θ=60°; k≈log2 n would collapse it to ~4%, unrecoverable by any
    affordable L — the classic (k, L) trade). This plan is therefore
    the ≤{EXACT_COSINE_MAX_VECTORS}-vector exact-verify tool —
    ENFORCED since r14: above that budget it raises
    ExactOracleRegimeError in milliseconds (the count was already a
    1-row job) instead of running the quadratic; the registered
    full-corpus path is dedup_semdedup (IVF-cell-bounded, measured
    +0.50 slope, 4.3 s at sf1.0 on the same corpus). Within its
    regime the
    self-join
    shuffles slim (vec_id, tbl, bucket) rows on the bucket key, the
    verify kernel reads ONLY (vec_a, vec_b) id pairs against a
    broadcast of the regime-bounded (few-MB) embedding matrix (r14 —
    previously both 64-dim arrays were broadcast-joined onto every
    candidate pair, ~1.5 GB through the Arrow boundary at sf0.1), and
    the top-k is a TakeOrdered, not a global sort. Top-k membership and ordering compare the QUANTIZED
    cosine (6 dp grid, same value that is emitted), so the LIMIT
    boundary is robust to sub-quantum cross-engine float drift (r7
    advice). Reference parity: compendium's dedup is exact-key only
    (db.py); this family is the extension surface.
    """
    from compendium_spark.plans.ann import (  # noqa: PLC0415
        adaptive_n_tables,
        bucket_entries,
        bucket_entries_probed,
    )

    emb = _load_embeddings(spark, sf_dir)
    # knob + regime guard: row count from parquet footer stats (zero
    # Spark jobs; the guard's documented "metadata read"), falling
    # back to a real count job only when stats are unreadable (r15 —
    # the count job used to re-run the scan+spread per invocation)
    _meta_n = table_num_rows(spark, sf_dir, "embeddings")
    n_vec = _meta_n if _meta_n is not None else emb.count()
    _guard_exact_regime(
        n_vec,
        EXACT_COSINE_MAX_VECTORS,
        "dedup_embedding_cosine",
        "vectors",
        "dedup_semdedup",
    )
    n_tables = adaptive_n_tables(n_vec)
    # Round 8 (adaptive L): BOTH hot paths are Arrow kernels now. The
    # r7 expression-form choice (HOF bucket projection canonicalizing
    # into one reused exchange) stopped paying at L=8 — the plan is
    # rebuilt per invocation and the 32-lambda projection recompiles
    # under Janino every time (lambda exprIds make the generated
    # source unique, so the codegen cache never hits). Measured sf0.1
    # fresh-build: expr ~5.4 s (≈2.7 s of that is ent codegen, ~2 s
    # verify codegen) vs kernel buckets + kernel cosine 2.3-2.6 s.
    # The kernel runs once per self-join leg (2×) but is vectorized
    # and codegen-free.
    # Round 9: the b-side is the PROBED index (exact + lowest-margin
    # flip per entry); pairs canonicalize to (least, greatest) so a
    # flip on EITHER endpoint makes the pair a candidate.
    ent = bucket_entries(emb, n_tables)
    pent = bucket_entries_probed(emb, n_tables)
    a = ent.select(
        F.col("vec_id").alias("ia"), "tbl", "bucket"
    )
    b = pent.select(
        F.col("vec_id").alias("ib"), "tbl", "bucket"
    )
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("vec_a"),
            F.greatest("ia", "ib").alias("vec_b"),
        )
        .distinct()
    )
    # Exact-cosine verify via a BROADCAST matrix: the regime guard
    # above bounds the corpus at EXACT_COSINE_MAX_VECTORS vectors, so
    # the full embedding matrix is a few MB — collected ONCE (bounded
    # driver work, the same class as the centroid collects; at 100×
    # scale the guard fires before this line) and shipped to every
    # task as a broadcast. The kernel then receives ONLY the
    # (vec_a, vec_b) id pairs. r14: the old shape broadcast-joined
    # both 64-dim arrays onto every candidate pair — ~1.5M pairs × 2
    # arrays ≈ 1.5 GB through the Arrow boundary at sf0.1, two orders
    # of magnitude more bytes than the verify needs (guide §8: shuffle
    # keys, attach the heavy payload once; §4.1: pass only the columns
    # the function needs).
    import numpy as np  # noqa: PLC0415

    # collect off the UNSPREAD scan: the matrix is order-normalized by
    # the vec_id argsort below, so the _load_embeddings repartition
    # exchange would be pure overhead in this driver-bound job (r15)
    vec_rows = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("e")
    ).collect()  # bounded: ≤ EXACT_COSINE_MAX_VECTORS rows (guard above)
    _ids = np.array([r.vec_id for r in vec_rows], dtype=np.int64)
    _order = np.argsort(_ids, kind="stable")
    _ids = _ids[_order]
    _mat = np.array(
        [vec_rows[i].e for i in _order], dtype=np.float64
    )
    # norms with the SAME sequential per-dim accumulation order as the
    # _dot_unrolled element_at chain the old plan evaluated in-JVM —
    # identical doubles, hence identical quantized cosines
    _acc = np.zeros(len(_mat), dtype=np.float64)
    for _d in range(_mat.shape[1]):
        _acc += _mat[:, _d] * _mat[:, _d]
    _nrm = np.sqrt(_acc)
    bc = spark.sparkContext.broadcast((_ids, _mat, _nrm))

    def _verify(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        ids, mat, nrm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ai = np.searchsorted(ids, pdf["vec_a"].to_numpy())
            bi = np.searchsorted(ids, pdf["vec_b"].to_numpy())
            xe, ye = mat[ai], mat[bi]
            acc = np.zeros(len(pdf), dtype=np.float64)
            for d in range(mat.shape[1]):
                acc += xe[:, d] * ye[:, d]
            cos = acc / (nrm[ai] * nrm[bi])
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"],
                    "vec_b": pdf["vec_b"],
                    "cosine": np.floor(cos * 1e6 + 0.5) / 1e6,
                }
            )

    scored = cand.mapInPandas(
        _verify, "vec_a long, vec_b long, cosine double"
    )
    return (
        scored.orderBy(F.desc("cosine"), "vec_a", "vec_b")
        .limit(NEARDUP_TOPK)
        .select(
            "vec_a",
            "vec_b",
            "cosine",
            F.when(F.col("cosine") >= NEARDUP_THRESHOLD, F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_dup"),
        )
    )


def _cluster_sql() -> str:
    body = _MINHASH_CAND_SQL_BODY.format(
        sigs=_minhash_sql_sigs(), bands=_minhash_sql_bands()
    )
    return f"""
WITH RECURSIVE {body},
sh_arr AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sh_arr a ON doc_a = a.doc_id
  JOIN sh_arr b ON doc_b = b.doc_id
  WHERE 1.0 * len(list_intersect(a.sh, b.sh))
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lbl) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc AS doc_id,
       MIN(lbl) AS cluster_id
FROM reach
GROUP BY doc
ORDER BY doc_id
"""


@plan("dedup_cluster_labels", oracle=_cluster_sql())
def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pairs —
    the step that turns pairwise 'A≈B' into dedup groups (keep the
    cluster minimum, drop the rest). The one genuinely ITERATIVE
    algorithm in the engine: min-label propagation, each round a
    join + min-agg, run to fixpoint.

    Scale: converges in O(component diameter) rounds (near-dup
    clusters are shallow — a handful of rounds); every round is one
    shuffle on doc id, and `localCheckpoint` truncates the lineage so
    the plan doesn't grow with iterations. The DuckDB oracle is a
    recursive CTE computing the same fixpoint, so even this plan is
    value-checked, not rows-only.
    """
    pairs = dedup_neardup_pipeline(spark, sf_dir).select("doc_a", "doc_b")
    # materialize the edge list ONCE — every propagation round reuses
    # it, and without this the whole upstream LSH+verify pipeline would
    # re-execute per round
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc"))
        .distinct()
        .withColumn("lbl", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    for _ in range(30):  # safety cap far above any real diameter
        # one shuffle round: min neighbor label per node, folded into
        # the node's own label with a change flag computed inline — the
        # eager checkpoint is the round's ONLY real job; the
        # convergence check is then a limit-1 scan of the checkpointed
        # blocks, not a second join+count job (measured ~0.3s/round
        # saved vs the union+groupBy+join form)
        nmin = (
            edges.join(labels, edges.doc_a == labels.doc)
            .groupBy(F.col("doc_b").alias("doc"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        merged = (
            labels.join(nmin, "doc", "left")
            .select(
                "doc",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias(
                    "new_lbl"
                ),
                (F.coalesce("nlbl", F.col("lbl")) < F.col("lbl")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = merged.select("doc", F.col("new_lbl").alias("lbl"))
        if merged.filter("changed").limit(1).isEmpty():
            break
    return (
        labels.select(F.col("doc").alias("doc_id"), F.col("lbl").alias("cluster_id"))
        .orderBy("doc_id")
    )


def _curate_sql() -> str:
    body = _MINHASH_CAND_SQL_BODY.format(
        sigs=_minhash_sql_sigs(), bands=_minhash_sql_bands()
    )
    return f"""
WITH RECURSIVE {body},
sh_arr AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sh_arr a ON doc_a = a.doc_id
  JOIN sh_arr b ON doc_b = b.doc_id
  WHERE 1.0 * len(list_intersect(a.sh, b.sh))
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lbl) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc
),
clusters AS (SELECT doc AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc),
scored AS (
  SELECT doc_id, n_chars,
         len(string_split_regex(trim(text), ' +')) AS n_tokens,
         len(list_filter(string_split_regex(trim(text), ' +'),
                         x -> x IN ('a', 'the'))) AS n_stop
  FROM documents
)
SELECT s.doc_id, s.n_tokens, s.n_chars
FROM scored s
LEFT JOIN clusters c ON s.doc_id = c.doc_id
WHERE s.n_tokens >= 50
  AND s.n_stop > 0
  AND 1.0 * s.n_stop / s.n_tokens >= 0.02
  AND (c.doc_id IS NULL OR c.cluster_id = s.doc_id)
ORDER BY s.doc_id
"""


@plan("curate_corpus", oracle=_curate_sql())
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation composition — what a user
    actually runs over a raw corpus, in one call: language gate
    (stopword heuristic), quality gate (token count + stopword
    presence), and near-dup removal keeping only each cluster's
    representative (minimum doc_id; singletons pass untouched).

    Shape: the gates are pure column expressions evaluated in the
    document scan (no shuffle); the only shuffled inputs are the
    near-dup pipeline's band buckets and the label-propagation rounds,
    both bounded by candidate volume, not corpus size. The cluster
    keep-list joins back LEFT and SIZE-GATED (maybe_broadcast — the
    label table can approach corpus cardinality when dup rates are
    high, so the broadcast hint only fires under the budget) so
    never-duplicated documents don't pay the join. At 100 TB each stage is the already-audited plan it
    composes (dedup_minhash_lsh → dedup_neardup_pipeline →
    dedup_cluster_labels).
    """
    docs = load(spark, sf_dir, "documents")
    clusters = dedup_cluster_labels(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), " +")
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin("a", "the"))).alias("n_stop"),
    )
    return (
        scored.join(
            maybe_broadcast(
                spark,
                sf_dir,
                "documents",
                clusters.withColumnRenamed("doc_id", "c_doc"),
            ),
            scored.doc_id == F.col("c_doc"),
            "left",
        )
        .filter(
            (F.col("n_tokens") >= 50)
            & (F.col("n_stop") > 0)
            & (F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.02)
            & (F.col("c_doc").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        )
        .select("doc_id", "n_tokens", "n_chars")
        .orderBy("doc_id")
    )


def _cluster_stats_sql() -> str:
    body = _MINHASH_CAND_SQL_BODY.format(
        sigs=_minhash_sql_sigs(), bands=_minhash_sql_bands()
    )
    return f"""
WITH RECURSIVE {body},
sh_arr AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sh_arr a ON doc_a = a.doc_id
  JOIN sh_arr b ON doc_b = b.doc_id
  WHERE 1.0 * len(list_intersect(a.sh, b.sh))
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lbl) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc
),
clusters AS (
  SELECT doc, MIN(lbl) AS cluster_id FROM reach GROUP BY doc
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(MAX(doc) AS BIGINT) AS max_doc,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM clusters
GROUP BY cluster_id
ORDER BY cluster_size DESC, cluster_id
"""


@plan("dedup_cluster_stats", oracle=_cluster_stats_sql())
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster audit table over the near-dup components: one row
    per cluster with its size, widest member id, and how many docs
    dedup would drop (size − 1, keeping the min-id representative).
    Fat clusters at the top of the size-DESC ordering are the signal
    that the threshold is too loose or a boilerplate template is
    stitching the corpus together.

    Round-7 reshape: through r6 this was a 2-row cluster-SIZE
    histogram (the r6 verdict's near-vacuous-hash list); per-cluster
    rows (23 at sf0.01) hash an actual distribution. One tiny
    aggregate on top of dedup_cluster_labels' fixpoint — shuffle
    volume is O(docs in clusters). The same recursive-CTE oracle
    recomputes the components so the table is value-checked
    end to end.
    """
    labels = dedup_cluster_labels(spark, sf_dir)
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.max("doc_id").cast("long").alias("max_doc"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        )
        .orderBy(F.desc("cluster_size"), "cluster_id")
    )


def _quality_dedup_sql() -> str:
    body = _MINHASH_CAND_SQL_BODY.format(
        sigs=_minhash_sql_sigs(), bands=_minhash_sql_bands()
    )
    return f"""
WITH RECURSIVE {body},
sh_arr AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sh_arr a ON doc_a = a.doc_id
  JOIN sh_arr b ON doc_b = b.doc_id
  WHERE 1.0 * len(list_intersect(a.sh, b.sh))
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lbl) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc
),
clusters AS (SELECT doc AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc),
scored AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), ' +')) AS n_tokens,
         len(list_filter(string_split_regex(trim(text), ' +'),
                         x -> x IN ('a', 'the'))) AS n_stop
  FROM documents
),
ranked AS (
  SELECT c.cluster_id, s.doc_id, s.n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY c.cluster_id
           ORDER BY (CASE WHEN s.n_tokens >= 50 AND s.n_stop > 0
                          THEN 1 ELSE 0 END) DESC,
                    s.n_tokens DESC, s.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM clusters c JOIN scored s ON c.doc_id = s.doc_id
)
SELECT cluster_id,
       doc_id AS kept_doc,
       CAST(n_tokens AS BIGINT) AS kept_tokens,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_members - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
ORDER BY cluster_id
"""


@plan("curate_quality_dedup", oracle=_quality_dedup_sql())
def curate_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection over the near-dup clusters:
    instead of curate_corpus's keep-the-minimum-id rule, each cluster
    keeps its HIGHEST-QUALITY member — passing the quality gate first
    (n_tokens >= 50 AND n_stop > 0, text_quality_score's verdict),
    then most tokens, then lowest doc_id. The policy real pipelines
    want: when a document survives in several variants (truncated
    copy, boilerplate-wrapped copy), train on the best one, not the
    one with the smallest key.

    The ranking key is ALL-INTEGER (gate flag, token count, id) so the
    canonical pick cannot diverge cross-engine on float rounding —
    no quantize anywhere in the sort.

    Scale: composition of already-audited pieces — the label fixpoint
    is O(docs-in-clusters) per round; the quality columns are scan-
    stage expressions; the rank + count run in ONE window partition
    pass per cluster (clusters are near-dup groups: tiny by
    construction, no skew concern) and only one row per cluster
    leaves. Reference parity: the reference dedups exact-key only
    (db.py); quality-aware rep selection is the curation extension
    axis.
    """
    labels = dedup_cluster_labels(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " +")
    scored = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin("a", "the"))).alias("n_stop"),
    )
    m = labels.join(scored, "doc_id").select(
        "cluster_id",
        "doc_id",
        "n_tokens",
        F.when((F.col("n_tokens") >= 50) & (F.col("n_stop") > 0), F.lit(1))
        .otherwise(F.lit(0))
        .alias("gate"),
    )
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.desc("gate"), F.desc("n_tokens"), "doc_id"
    )
    w_all = Window.partitionBy("cluster_id")
    return (
        m.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_members", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc"),
            F.col("n_tokens").cast("long").alias("kept_tokens"),
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def _sig_est_sql() -> str:
    lane_eq = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
sig AS (SELECT doc_id, {_minhash_sql_sigs()} FROM sh GROUP BY doc_id),
bands AS ({_minhash_sql_bands()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sh_arr AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
SELECT doc_a, doc_b,
       CAST(FLOOR(CAST((({lane_eq}) / {N_HASHES}.0) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS est_jaccard,
       CAST(FLOOR(CAST((1.0 * len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
         AS jaccard
FROM cand
JOIN sig sa ON doc_a = sa.doc_id
JOIN sig sb ON doc_b = sb.doc_id
JOIN sh_arr a ON doc_a = a.doc_id
JOIN sh_arr b ON doc_b = b.doc_id
ORDER BY doc_a, doc_b
"""


@plan("dedup_signature_jaccard", oracle=_sig_est_sql())
def dedup_signature_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-based Jaccard ESTIMATION next to the exact value —
    the triage step production near-dedup runs between candidate
    generation and exact verification.

    The MinHash estimator is the fraction of agreeing signature lanes
    (E[lane match] = Jaccard); at scale the estimate decides which
    candidates are worth fetching full shingle sets for, so the
    expensive exact verify touches only pairs the cheap integer
    comparison already ranked — signatures are {N_HASHES} small values
    per doc vs arbitrarily large shingle arrays. Emitting both values
    per candidate makes the estimator itself auditable: the driver
    hash-checks estimate AND exact side by side (both integer-ratio
    math, engine-exact; lanes/{N_HASHES}.0 is an exact binary
    fraction).

    Shape: candidates from band buckets (bounded, never all-pairs);
    two keyed joins fetch 8-lane signatures; two fetch shingle arrays
    for the exact column. In production the exact legs run only on
    the estimate's survivors.

    r14 NOTE: the _cand_shingle_arrays semi-join prefilter that wins
    on the *_pipeline plans was measured WORSE here (CPU 5.9 → 7.0 s,
    wall 2.1 → 2.6 s at sf0.1): this plan's candidate subtree and its
    sa/sb signature fetches share ONE signature aggregation via
    Spark's ReusedExchange, so the corpus-wide fetch is nearly free,
    and checkpointing the candidates severs that reuse — the
    prefilter's saving never covers the recompute. Kept in the
    original reuse-friendly shape deliberately.
    """
    cand = _minhash_candidates(spark, sf_dir)
    sig = _sig_table(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    lane_eq = None
    for i in range(N_HASHES):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        lane_eq = term if lane_eq is None else lane_eq + term
    sh_arr = (
        _doc_shingles(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
    )
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    jac = F.lit(1.0) * inter / (F.size("sha") + F.size("shb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            quantize6(lane_eq / F.lit(float(N_HASHES))).alias("est_jaccard"),
            quantize6(jac).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


MIPS_TOPK_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_sum(list_transform(q.e, (x, i) -> x * c.e[i])) AS ip
  FROM v q, v c
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, cand_id, ip,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, cand_id) AS rn
  FROM pairs
)
SELECT query_id, cand_id,
       CAST(FLOOR(CAST((ip) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
         / 1000000.0 AS inner_product,
       rn AS rank
FROM ranked WHERE rn <= 5
ORDER BY query_id, rank
"""


@plan("sim_mips_topk", oracle=MIPS_TOPK_SQL)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) top-5 — the recommender /
    retrieval primitive where vector MAGNITUDE carries signal
    (item popularity, document length prior) and cosine's
    normalization is the WRONG metric. Same legitimate exact form as
    sim_cosine_topk: ≤10 broadcast queries against the sharded corpus,
    per-partition top-k.

    Scale note: MIPS reduces to cosine search via the standard
    norm-augmentation transform (append sqrt(M² − ‖x‖²) as an extra
    dimension, M = max norm), after which the IVF/LSH candidate
    machinery in plans/ivf.py / plans/ann.py applies verbatim — this
    plan is the exact baseline those variants verify against, exactly
    as sim_cosine_topk anchors the cosine family."""
    emb = _load_embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ce"))
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _dot_unrolled(F.col("qe"), F.col("ce")).alias("ip"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ip"), "cand_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "cand_id",
            quantize6(F.col("ip")).alias("inner_product"),
            F.col("rn").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# dedup_containment — asymmetric shingle containment (round 8)
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.6

CONTAINMENT_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(FLOOR(CAST((1.0 * n_common / ca.n) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) / 1000000.0 AS containment_a,
       CAST(FLOOR(CAST((1.0 * n_common / cb.n) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) / 1000000.0 AS containment_b,
       CASE WHEN 1.0 * n_common / ca.n >= 1.0 * n_common / cb.n
            THEN doc_a ELSE doc_b END AS contained_doc
FROM inter
JOIN cnt ca ON doc_a = ca.doc_id
JOIN cnt cb ON doc_b = cb.doc_id
WHERE greatest(1.0 * n_common / ca.n, 1.0 * n_common / cb.n)
        >= {CONTAIN_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@plan("dedup_containment", oracle=CONTAINMENT_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT near-dup (round 8): for
    candidate pairs, C(A|B) = |A∩B| / |A| — the Broder containment
    score. Jaccard misses the classic crawl pathology where a short
    document is embedded verbatim inside a much longer one (quote
    pages, aggregators, boilerplate wrappers): |A∩B|/|A∪B| is diluted
    by the big doc's size while |A∩B|/|A| is ~1. Emits both directions
    plus which document is the contained one — that is the doc the
    dedup policy drops (keep the superset, drop the fragment).

    Same scale shape as dedup_ngram_jaccard, whose inter/cnt subtrees
    this reuses verbatim (shared shingle self-join, map-side distinct
    shingles, integer-ratio math) — and the same measured standalone
    cost (118M self-join pairs at sf1.0, slope +1.21, SCALING.md): at
    100 TB the pair source is the LSH candidate stream
    (dedup_containment_pipeline, the registered r13 twin), never
    all-pairs. The direction pick compares
    the same two ratios both engines compute from exact integers, so
    ties (n_a == n_b) resolve identically. Inputs above
    {EXACT_SHINGLE_MAX_DOCS} docs raise ExactOracleRegimeError (r14).
    """
    _n_docs = table_num_rows(spark, sf_dir, "documents")
    _guard_exact_regime(
        _n_docs
        if _n_docs is not None
        else load(spark, sf_dir, "documents").count(),
        EXACT_SHINGLE_MAX_DOCS,
        "dedup_containment",
        "docs",
        "dedup_containment_pipeline",
    )
    sh = _doc_shingles(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    c_a = F.lit(1.0) * F.col("n_common") / F.col("ca.n")
    c_b = F.lit(1.0) * F.col("n_common") / F.col("cb.n")
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter(F.greatest(c_a, c_b) >= CONTAIN_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            quantize6(c_a).alias("containment_a"),
            quantize6(c_b).alias("containment_b"),
            F.when(c_a >= c_b, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# dedup_containment_pipeline — LSH candidates -> exact containment (round 13)
# ---------------------------------------------------------------------------


def _containment_pipeline_sql() -> str:
    body = _MINHASH_CAND_SQL_BODY.format(
        sigs=_minhash_sql_sigs(), bands=_minhash_sql_bands()
    )
    ca = "1.0 * len(list_intersect(a.sh, b.sh)) / len(a.sh)"
    cb = "1.0 * len(list_intersect(a.sh, b.sh)) / len(b.sh)"
    return f"""
WITH {body},
sh_arr AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
SELECT doc_a, doc_b,
       CAST(FLOOR(CAST(({ca}) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS containment_a,
       CAST(FLOOR(CAST(({cb}) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS containment_b,
       CASE WHEN {ca} >= {cb} THEN doc_a ELSE doc_b END AS contained_doc
FROM cand
JOIN sh_arr a ON doc_a = a.doc_id
JOIN sh_arr b ON doc_b = b.doc_id
WHERE greatest({ca}, {cb}) >= {CONTAIN_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@plan("dedup_containment_pipeline", oracle=_containment_pipeline_sql())
def dedup_containment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL-CORPUS containment path (r13): MinHash-LSH candidate
    generation feeding the exact containment verify — the containment
    twin of dedup_neardup_pipeline, closing the gap the sf1.0 decade
    probe exposed: dedup_containment's exhaustive shingle self-join is
    Sum C(bucket,2), measured 14k -> 1.27M -> 118M join pairs across
    sf0.01/0.1/1.0 (slope +1.21) for an output of a few hundred rows.
    Here verification cost is O(candidates): at the gated SFs the LSH
    stream holds 35/775 candidate pairs covering 25/25 and 256/256 of
    the containment-qualifying pairs (measured r13).

    Honest recall caveat: Jaccard-banded LSH under-recalls the extreme
    short-doc-inside-long-doc pairs containment exists to catch (their
    Jaccard is diluted by the big doc). On corpora where that tail
    matters, the standard remedies are length-stratified banding or an
    asymmetric scheme; the exhaustive dedup_containment remains the
    exact oracle for auditing any of them at sample scale.

    Shape: candidates shuffle on band buckets; the verify fetches each
    doc's distinct shingle array by doc_id and computes both direction
    ratios with array built-ins — integer ratio, no UDF, engine-exact;
    the contained_doc pick resolves ties identically in both engines.
    r14: verify-side shingle arrays are candidate-doc-only
    (_cand_shingle_arrays — guide §3.2 semi-join prefilter).
    """
    cand, sh_arr = _cand_shingle_arrays(
        spark, sf_dir, _minhash_candidates(spark, sf_dir)
    )
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    c_a = F.lit(1.0) * inter / F.size("sha")
    c_b = F.lit(1.0) * inter / F.size("shb")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.greatest(c_a, c_b) >= CONTAIN_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            quantize6(c_a).alias("containment_a"),
            quantize6(c_b).alias("containment_b"),
            F.when(c_a >= c_b, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# dedup_lsh_tuning_curve — banding S-curve vs observed candidates (round 8)
# ---------------------------------------------------------------------------


def _lsh_tuning_sql() -> str:
    body = _MINHASH_CAND_SQL_BODY.format(
        sigs=_minhash_sql_sigs(), bands=_minhash_sql_bands()
    )
    thr_bin = int(JACCARD_THRESHOLD * 100)
    return f"""
WITH {body},
sh_arr AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
scored AS (
  SELECT CAST(FLOOR((1.0 * len(list_intersect(a.sh, b.sh))
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))))
           * 100) AS BIGINT) AS jaccard_bin
  FROM cand
  JOIN sh_arr a ON doc_a = a.doc_id
  JOIN sh_arr b ON doc_b = b.doc_id
),
binned AS (
  SELECT jaccard_bin, CAST(COUNT(*) AS BIGINT) AS n_candidates
  FROM scored GROUP BY jaccard_bin
),
mid AS (
  SELECT *, LEAST((jaccard_bin + 0.5) / 100, 1.0) AS s FROM binned
),
tt AS (SELECT *, 1.0 - s * s AS t FROM mid),
pp AS (SELECT *, 1.0 - (t * t) * (t * t) AS p FROM tt)
SELECT jaccard_bin,
       CAST(FLOOR(CAST(s AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
         / 1000000.0 AS bin_mid,
       n_candidates,
       CAST(FLOOR(CAST(p AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
         / 1000000.0 AS capture_prob,
       CAST(FLOOR(CAST(((n_candidates * (1.0 - p)) / p) AS DOUBLE)
                  * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS est_missed,
       CASE WHEN jaccard_bin >= {thr_bin} THEN 1 ELSE 0 END
         AS above_threshold
FROM pp
ORDER BY jaccard_bin
"""


@plan("dedup_lsh_tuning_curve", oracle=_lsh_tuning_sql())
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding tuning table: per exact-Jaccard percent bin of the
    OBSERVED candidate pairs, the candidate count, the analytic
    capture probability of the current (b={N_BANDS}, r=2) banding at
    the bin midpoint — p(s) = 1-(1-s^r)^b, the S-curve from Mining of
    Massive Datasets ch.3 — and the implied missed-pair estimate
    n·(1-p)/p (observed ≈ true·p, so true-observed = observed·(1-p)/p).
    This is how you choose b and r: low-bin rows with large counts =
    wasted verification (precision loss), high-bin rows with
    non-trivial est_missed = recall loss; re-band until both tails are
    acceptable.

    Shape: O(candidates) — the bucket-bounded candidate set from
    `_minhash_candidates` joined to per-doc shingle sets for the exact
    Jaccard (same integer-ratio math as the verify step), then a
    rollup bounded at 101 percent-bin rows. The audit's one dup scan
    is the shingle subtree computed for the signatures AND the verify
    sets — the same recompute-beats-checkpoint call the neardup
    pipeline documents (r7 measurement: a localCheckpoint of the
    exploded shingles costs more than the second column-pruned scan).
    The S-curve is POWER-free on purpose:
    s^2 and (1-s²)^4 are written as explicitly-grouped IEEE
    multiplications ((t*t)*(t*t)) so both engines compute the exact
    same doubles — libm pow is not bit-stable across engines.
    r14: verify-side shingle arrays are candidate-doc-only
    (_cand_shingle_arrays — guide §3.2 semi-join prefilter).
    """
    cand, sh_arr = _cand_shingle_arrays(
        spark, sf_dir, _minhash_candidates(spark, sf_dir)
    )
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    jac = F.lit(1.0) * inter / (F.size("sha") + F.size("shb") - inter)
    binned = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(F.floor(jac * 100).cast("long").alias("jaccard_bin"))
        .groupBy("jaccard_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    )
    s = F.least((F.col("jaccard_bin") + F.lit(0.5)) / 100, F.lit(1.0))
    staged = (
        binned.withColumn("s", s)
        .withColumn("t", F.lit(1.0) - F.col("s") * F.col("s"))
        .withColumn(
            "p",
            F.lit(1.0)
            - (F.col("t") * F.col("t")) * (F.col("t") * F.col("t")),
        )
    )
    thr_bin = int(JACCARD_THRESHOLD * 100)
    return (
        staged.select(
            "jaccard_bin",
            quantize6(F.col("s")).alias("bin_mid"),
            "n_candidates",
            quantize6(F.col("p")).alias("capture_prob"),
            quantize6(
                (F.col("n_candidates") * (F.lit(1.0) - F.col("p")))
                / F.col("p")
            ).alias("est_missed"),
            F.when(F.col("jaccard_bin") >= thr_bin, F.lit(1))
            .otherwise(F.lit(0))
            .alias("above_threshold"),
        )
        .orderBy("jaccard_bin")
    )


# ---------------------------------------------------------------------------
# emb_dedup_threshold_curve — the semantic-dedup tau sweep
# ---------------------------------------------------------------------------

# Completes the tuning-curve triad: dedup_lsh_tuning_curve picks the
# MinHash banding, sim_ivf_tuning_curve picks nprobe, this picks the
# COSINE THRESHOLD for embedding dedup — per candidate tau, how many
# verified pairs clear it, how many documents are touched, and how
# many the greedy keep-min rule would drop (SemDeDup fig. 3's knob:
# one notch is the difference between trimming mirrors and deleting a
# third of the corpus).
EMB_TAU_SWEEP = [0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


def _threshold_curve_sql() -> str:
    from compendium_spark.plans.ann import (  # noqa: PLC0415
        N_TABLES_MAX,
        _sql_adaptive_tables_case,
        _sql_tables_union,
    )

    l_case = _sql_adaptive_tables_case("(SELECT c FROM cnt)")
    taus = ", ".join(f"CAST({t} AS DOUBLE)" for t in EMB_TAU_SWEEP)
    # ent (both self-join legs) and legs (pair_agg and aff) are
    # MATERIALIZED: DuckDB 1.0 inlines a plain CTE at every reference,
    # re-running the bucket union per use — same digest, 102.7 s →
    # 28.6 s at sf0.1 (4 DuckDB threads)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
cnt AS (SELECT COUNT(*) AS c FROM embeddings),
n AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM v
),
ent AS MATERIALIZED (
  SELECT * FROM ({_sql_tables_union("embedding", N_TABLES_MAX)})
  WHERE tbl < ({l_case})
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ent a JOIN ent b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
         CAST(FLOOR(CAST((list_sum(list_transform(x.e, (xx, i) -> xx * y.e[i]))
           / (x.nrm * y.nrm)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
           / 1000000.0 AS cosine
  FROM cand JOIN n x ON vec_a = x.vec_id JOIN n y ON vec_b = y.vec_id
),
legs AS MATERIALIZED (
  SELECT s.vec_a, s.vec_b, t.threshold
  FROM scored s, (SELECT unnest([{taus}]) AS threshold) t
  WHERE s.cosine >= t.threshold
),
pair_agg AS (
  SELECT threshold,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT vec_b) AS BIGINT) AS n_dropped_greedy
  FROM legs GROUP BY threshold
),
aff AS (
  SELECT threshold, CAST(COUNT(DISTINCT vid) AS BIGINT) AS n_docs_affected
  FROM (SELECT threshold, unnest([vec_a, vec_b]) AS vid FROM legs)
  GROUP BY threshold
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM embeddings)
SELECT t.threshold,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(a.n_docs_affected, 0) AS BIGINT) AS n_docs_affected,
       CAST(COALESCE(p.n_dropped_greedy, 0) AS BIGINT) AS n_dropped_greedy,
       CAST(FLOOR(CAST((1.0 * COALESCE(p.n_dropped_greedy, 0)
                        / tot.n_corpus) AS DOUBLE) * 1000000.0 + 0.5)
            AS BIGINT) / 1000000.0 AS drop_share
FROM (SELECT unnest([{taus}]) AS threshold) t
LEFT JOIN pair_agg p ON t.threshold = p.threshold
LEFT JOIN aff a ON t.threshold = a.threshold, tot
ORDER BY t.threshold
"""


@plan("emb_dedup_threshold_curve", oracle=_threshold_curve_sql())
def emb_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup threshold sweep: for each candidate cosine
    cutoff, verified pair count, documents touched, greedy-drop count
    (a vector is dropped iff it is the GREATER id of any ≥tau pair —
    the keep-min rule curate_corpus applies), and the corpus drop
    share — read BEFORE fixing the dedup threshold, exactly like
    curate_yield_curve before the length gate.

    One-pass shape: candidates and exact cosines come from the SAME
    adaptive-L LSH machinery as dedup_embedding_cosine (bucket-keyed
    self-join, Arrow verify kernel, quantized grid values — never
    all-pairs); the sweep multiplies the VERIFIED pairs (already
    O(candidates), tiny) by the literal threshold array, so each extra
    tau costs O(pairs), not another corpus pass. Counts are exact
    integers off the shared 1e-6 cosine grid; float re-enters only at
    the final drop-share division."""
    from compendium_spark.plans.ann import (  # noqa: PLC0415
        adaptive_n_tables,
        bucket_entries,
    )

    emb = _load_embeddings(spark, sf_dir)
    # L knob from parquet footer stats (zero Spark jobs; same exact
    # count), falling back to a count job when stats are unreadable
    _meta_n = table_num_rows(spark, sf_dir, "embeddings")
    n_vec = _meta_n if _meta_n is not None else emb.count()
    n_tables = adaptive_n_tables(n_vec)
    n = emb.withColumn("nrm", F.sqrt(_dot_unrolled(F.col("e"), F.col("e"))))
    # ent feeds both self-join legs: lazy checkpoint so the bucket
    # kernel runs once, not per leg (r15, the sim_lsh_topk pattern)
    ent = bucket_entries(emb, n_tables).localCheckpoint(eager=False)
    a = ent.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = ent.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    x = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("xe"),
        F.col("nrm").alias("xn"),
    )
    y = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("ye"),
        F.col("nrm").alias("yn"),
    )
    scored = (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select("vec_a", "vec_b", "xe", "xn", "ye", "yn")
        .mapInPandas(
            _cosine_verify_kernel, "vec_a long, vec_b long, cosine double"
        )
    )
    legs = scored.select(
        "vec_a",
        "vec_b",
        "cosine",
        F.explode(
            F.array(*[F.lit(float(t)) for t in EMB_TAU_SWEEP])
        ).alias("threshold"),
    ).filter(F.col("cosine") >= F.col("threshold"))
    pair_agg = legs.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("vec_b").cast("long").alias("n_dropped_greedy"),
    )
    aff = (
        legs.select(
            "threshold", F.explode(F.array("vec_a", "vec_b")).alias("vid")
        )
        .groupBy("threshold")
        .agg(F.countDistinct("vid").cast("long").alias("n_docs_affected"))
    )
    sweep = local_df(
        spark, [(float(t),) for t in EMB_TAU_SWEEP], "threshold double"
    )
    tot = emb.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    return (
        F.broadcast(sweep)
        .join(pair_agg, "threshold", "left")
        .join(aff, "threshold", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
            F.coalesce("n_dropped_greedy", F.lit(0))
            .cast("long")
            .alias("n_dropped_greedy"),
            quantize6(
                F.lit(1.0)
                * F.coalesce("n_dropped_greedy", F.lit(0))
                / F.col("n_corpus")
            ).alias("drop_share"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# dedup_winnowing — MOSS-style local fingerprinting
# ---------------------------------------------------------------------------

# Winnowing (Schleimer, Wilkerson, Aiken — SIGMOD 2003, the MOSS
# algorithm): slide a window of WINNOW_W consecutive k-gram hashes and
# keep each window's MINIMUM as a fingerprint. Guarantee the sampled
# families here lack: any shared run of WINNOW_W + WINNOW_K - 1 tokens
# between two documents yields at least one SHARED fingerprint — so
# partial overlap (a paragraph lifted into an otherwise-different
# document) is caught positionally, where whole-document MinHash
# dilutes it below the Jaccard bar and SimHash averages it away.
# Density is ~2/(WINNOW_W+1) of the k-gram stream: the index is a
# fixed fraction of the corpus, selected scan-side.
WINNOW_K = 3  # tokens per k-gram (the corpus-suitable n, see NGRAM_N)
WINNOW_W = 4  # k-gram hashes per winnowing window
WINNOW_MAX_DF = 50  # drop boilerplate fingerprints shared by > this many docs
WINNOW_MIN_SHARED = 2  # report pairs sharing at least this many fingerprints
_POS_BITS = 20  # position packed below the hash: docs < 2^20 k-grams

WINNOWING_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - {WINNOW_K} + 2, 1)),
                i -> array_to_string(list_slice(t, i, i + {WINNOW_K} - 1), ' ')))
           AS g,
         unnest(range(1, greatest(len(t) - {WINNOW_K} + 2, 1))) AS pos,
         greatest(len(t) - {WINNOW_K} + 1, 0) AS n_grams
  FROM toks WHERE len(t) >= {WINNOW_K}
),
keyed AS (
  SELECT doc_id, pos, n_grams,
         (((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 268435456
          + (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 16777216
          + (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 1048576
          + (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1) * 65536
          + (strpos('0123456789abcdef', substr(md5(g), 5, 1)) - 1) * 4096
          + (strpos('0123456789abcdef', substr(md5(g), 6, 1)) - 1) * 256
          + (strpos('0123456789abcdef', substr(md5(g), 7, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(g), 8, 1)) - 1))
            * {1 << _POS_BITS}
          + ({(1 << _POS_BITS) - 1} - pos)) AS key
  FROM grams
),
wmin AS (
  SELECT doc_id, pos, n_grams,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                                 AND {WINNOW_W - 1} FOLLOWING) AS sel
  FROM keyed
),
fp AS (
  SELECT DISTINCT doc_id, sel // {1 << _POS_BITS} AS fp_hash
  FROM wmin WHERE pos <= greatest(n_grams - {WINNOW_W} + 1, 1)
),
live AS (
  SELECT fp_hash FROM fp GROUP BY fp_hash
  HAVING COUNT(*) <= {WINNOW_MAX_DF}
),
kept AS (SELECT f.doc_id, f.fp_hash FROM fp f JOIN live USING (fp_hash)),
cnt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM kept GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b
    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       CAST(FLOOR(CAST((1.0 * p.n_shared / LEAST(ca.n_fp, cb.n_fp))
            AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
         AS containment
FROM pairs p
JOIN cnt ca ON p.doc_a = ca.doc_id
JOIN cnt cb ON p.doc_b = cb.doc_id
ORDER BY p.doc_a, p.doc_b
"""


@plan("dedup_winnowing", oracle=WINNOWING_SQL)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup detection (Schleimer et al., SIGMOD 2003 —
    the MOSS fingerprinter): per document, hash token WINNOW_K-grams,
    keep each WINNOW_W-window's MINIMUM hash as a fingerprint
    (rightmost tie-break via the packed position key), then pair
    documents sharing ≥ WINNOW_MIN_SHARED fingerprints and report the
    fingerprint-containment share. The positional guarantee the other
    dedup modalities lack: ANY shared token run of length
    WINNOW_W + WINNOW_K - 1 produces a shared fingerprint, so a lifted
    paragraph is caught even when whole-document Jaccard (MinHash) or
    the global bit-average (SimHash) can't see it.

    Shape: selection is SCAN-SIDE — the windowed MIN partitions by
    doc_id (parallel across docs, no global sort) and keeps
    ~2/(WINNOW_W+1) of the k-gram stream; boilerplate fingerprints in
    more than WINNOW_MAX_DF docs are dropped before pairing (the
    hot-bucket cap every fingerprint index needs — density × cap
    bounds every group's pair fan-out); the pair join is
    fingerprint-keyed, never all-pairs.

    Determinism: the min key packs (32-bit md5 hash, inverted
    position) into one BIGINT — rightmost-min tie-break as pure
    integer ordering, identical in both engines; counts are exact,
    float enters once at the containment division."""
    docs = load(spark, sf_dir, "documents")
    toks_df = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), " +").alias("t")
    ).filter(F.size("t") >= WINNOW_K)
    n_grams = F.greatest(F.size("t") - WINNOW_K + 1, F.lit(0))
    grams_arr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("t") - WINNOW_K + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, WINNOW_K)),
    )
    grams = toks_df.select(
        "doc_id",
        n_grams.alias("n_grams"),
        F.posexplode(grams_arr).alias("pos0", "g"),
    ).select(
        "doc_id",
        "n_grams",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    key = (
        F.col("h") * F.lit(1 << _POS_BITS)
        + (F.lit((1 << _POS_BITS) - 1) - F.col("pos"))
    ).alias("key")
    wmin = grams.select("doc_id", "pos", "n_grams", key).withColumn(
        "sel",
        F.min("key").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(0, WINNOW_W - 1)
        ),
    )
    fp = (
        wmin.filter(
            F.col("pos")
            <= F.greatest(F.col("n_grams") - WINNOW_W + 1, F.lit(1))
        )
        .select(
            "doc_id",
            F.floor(F.col("sel") / F.lit(1 << _POS_BITS))
            .cast("long")
            .alias("fp_hash"),
        )
        .distinct()
    )
    live = fp.groupBy("fp_hash").agg(
        F.count(F.lit(1)).alias("df")
    ).filter(F.col("df") <= WINNOW_MAX_DF).select("fp_hash")
    kept = fp.join(live, "fp_hash")
    cnt = kept.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("nfa"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nfb"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            quantize6(
                F.lit(1.0) * F.col("n_shared")
                / F.least("nfa", "nfb")
            ).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )
