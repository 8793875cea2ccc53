"""Corpus-quality and embedding-compression operators: repetition
filtering, PII scrubbing, deterministic dataset splits, corpus health
reports, int8 embedding quantization, and centroid-distance outlier
culling.

These complete the standard pre-training curation loop around
plans/curation.py (chunk/pack/decontaminate/rebalance) and
plans/extended.py (dedup/ANN). No counterpart in the reference (its
corpus is ASV tables; these are generic large-corpus operators). All
six are SQL-oracle-checked.

Scale notes are per plan; the common theme: every per-document
statistic is a scan-stage array/regex expression (embarrassingly
parallel, no shuffle), and every global statistic is a tiny aggregate
broadcast back into the scan — the corpus itself is never shuffled on
text or vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from compendium_spark.functions.numeric import quantize6, quantize_float
from compendium_spark.localframe import local_df
from compendium_spark.plans.registry import plan
from compendium_spark.tables import load

# ---------------------------------------------------------------------------
# repetition-ratio quality filter (Gopher-style)
# ---------------------------------------------------------------------------

# thresholds tuned so the synthetic corpus splits ~80/20 — production
# values come from Rae et al. 2021 (Gopher) table A1-style sweeps
MIN_DISTINCT_RATIO = 0.35
MAX_TOP_TOKEN_FRAC = 0.20
MAX_TOP_BIGRAM_FRAC = 0.10

REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
  FROM documents
),
b AS (
  SELECT doc_id, toks,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bg
  FROM t
),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
           AS distinct_ratio,
         CAST(list_max(list_transform(list_distinct(toks),
              u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
           / len(toks) AS top_token_frac,
         CAST(list_max(list_transform(list_distinct(bg),
              u -> len(list_filter(bg, x -> x = u)))) AS DOUBLE)
           / len(bg) AS top_bigram_frac
  FROM b
)
SELECT doc_id, n_tokens,
       CAST(FLOOR(CAST((distinct_ratio) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS distinct_ratio,
       CAST(FLOOR(CAST((top_token_frac) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS top_token_frac,
       CAST(FLOOR(CAST((top_bigram_frac) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS top_bigram_frac,
       (distinct_ratio >= {MIN_DISTINCT_RATIO}
        AND top_token_frac <= {MAX_TOP_TOKEN_FRAC}
        AND top_bigram_frac <= {MAX_TOP_BIGRAM_FRAC}) AS keep
FROM s
ORDER BY doc_id
"""


def _top_count(arr: Column) -> Column:
    """Highest multiplicity of any element in ``arr`` (int)."""
    return F.array_max(
        F.transform(
            F.array_distinct(arr),
            lambda u: F.size(F.filter(arr, lambda x: x == u)),
        )
    )


@plan("text_repetition_ratio", oracle=REPETITION_SQL)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher-rules family):
    per-document distinct-token ratio, most-frequent-token fraction,
    and most-frequent-bigram fraction, plus the keep/toss flag — boiler-
    plate and degenerate generated text score high on repetition and
    get culled before training.

    All three statistics are integer-count divisions computed from
    array expressions in the scan stage — bit-exact across engines (no
    float rounding concerns beyond display) and embarrassingly
    parallel; no shuffle at any scale, only the output sort. The
    per-doc cost is O(distinct x length) per document — bounded by
    document length, not corpus size; for book-length documents the
    production form swaps the array expression for the explode +
    count form (same answer, linear per doc).
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " +")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    base = docs.select(
        "doc_id", toks.alias("toks"), bigrams.alias("bg")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks")
        ).alias("distinct_ratio"),
        (
            _top_count(F.col("toks")).cast("double") / F.size("toks")
        ).alias("top_token_frac"),
        (_top_count(F.col("bg")).cast("double") / F.size("bg")).alias(
            "top_bigram_frac"
        ),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        quantize6("distinct_ratio").alias("distinct_ratio"),
        quantize6("top_token_frac").alias("top_token_frac"),
        quantize6("top_bigram_frac").alias("top_bigram_frac"),
        (
            (F.col("distinct_ratio") >= MIN_DISTINCT_RATIO)
            & (F.col("top_token_frac") <= MAX_TOP_TOKEN_FRAC)
            & (F.col("top_bigram_frac") <= MAX_TOP_BIGRAM_FRAC)
        ).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns stay in the RE2 ∩ java.util.regex common dialect so Spark
# and DuckDB agree: character classes, bounded quantifiers, \b.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9() \-]{6,}[0-9]"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# the term blocklist stands in for org-specific scrub lists (internal
# hostnames, project codenames); these two appear in the synthetic
# corpus so the plan exercises real replacements at test scale
BLOCKED_TERMS = r"\b(spark|hash)\b"

PII_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT)
         AS n_email,
       CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT)
         AS n_phone,
       CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS BIGINT)
         AS n_ip,
       CAST(len(regexp_extract_all(text, '{BLOCKED_TERMS}')) AS BIGINT)
         AS n_blocked,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text,
             '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
             '{BLOCKED_TERMS}', '<TERM>', 'g')) AS redacted_digest,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text,
             '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
             '{BLOCKED_TERMS}', '<TERM>', 'g')) AS BIGINT) AS redacted_len
FROM documents
ORDER BY doc_id
"""


def redact(text: Column) -> Column:
    """The four-stage redaction chain (email → phone → IPv4 → term
    blocklist), identical order to the oracle so digests match."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, BLOCKED_TERMS, "<TERM>")


@plan("curate_pii_redact", oracle=PII_SQL)
def curate_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails, phone numbers, IPv4
    addresses, and a term blocklist per document; emit match counts
    (on the original text) and the digest + length of the redacted
    form. The synthetic corpus contains no raw PII, so the regex paths
    are additionally exercised on adversarial fixtures in
    tests/test_quality.py; the blocklist terms do occur here, making
    the digest a real end-to-end check.

    Pure scan-stage regex expressions (JVM codegen, no Python): no
    shuffle, no state — at 100 TB this is a map-only rewrite whose
    output keeps the input partitioning. Counting on the original and
    replacing in a fixed chain keeps both engines byte-identical.
    """
    docs = load(spark, sf_dir, "documents")
    red = redact(F.col("text"))
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL))
        .cast("long")
        .alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE))
        .cast("long")
        .alias("n_phone"),
        F.regexp_count(F.col("text"), F.lit(PII_IPV4))
        .cast("long")
        .alias("n_ip"),
        F.regexp_count(F.col("text"), F.lit(BLOCKED_TERMS))
        .cast("long")
        .alias("n_blocked"),
        F.md5(red).alias("redacted_digest"),
        F.length(red).cast("long").alias("redacted_len"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

# md5-prefix thresholds (uniform over 16^8): ~80% / ~10% / ~10%
TRAIN_MAX = "cccccccc"
VAL_MAX = "e6666666"

SPLIT_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
           AS n_tokens,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   < '{TRAIN_MAX}' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   < '{VAL_MAX}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM s
GROUP BY split, lang
ORDER BY split, lang
"""


@plan("curate_split_assign", oracle=SPLIT_SQL)
def curate_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5-prefix threshold
    (~80/10/10), reported as per-(split, language) document and token
    counts. Content-addressed splits survive re-ingestion and
    resharding — the property rand()-based splits lack — and the same
    hash prefix doubles as the mixture-sampling key
    (curate_mixture_sample), so split and mixture decisions compose.

    The assignment is a scan-stage expression; the only shuffle is the
    tiny (split x lang) aggregate, with map-side partials. At 100 TB
    the assignment column is written back with the data (a map-only
    job); this report is the audit query over it.
    """
    docs = load(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    split = (
        F.when(h < TRAIN_MAX, "train")
        .when(h < VAL_MAX, "val")
        .otherwise("test")
    )
    n_tokens = F.size(F.split(F.trim(F.col("text")), " +")).cast("long")
    return (
        docs.select(split.alias("split"), "lang", n_tokens.alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# corpus health report
# ---------------------------------------------------------------------------

STATS_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(len(string_split_regex(trim(text), ' +'))) AS BIGINT)
         AS total_tokens,
       CAST(FLOOR(CAST((AVG(CAST(n_chars AS DOUBLE))) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS avg_chars,
       CAST(FLOOR(CAST((quantile_cont(CAST(n_chars AS DOUBLE), 0.5)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS p50_chars,
       CAST(FLOOR(CAST((quantile_cont(CAST(n_chars AS DOUBLE), 0.9)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS p90_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@plan("corpus_stats_report", oracle=STATS_SQL)
def corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus health report: document/source counts,
    token totals, and character-length mean and exact percentiles —
    the summary a curation run prints before and after each gate.

    One aggregate over (lang): counts and sums combine partially;
    exact percentiles need the group's values in one place, which is
    fine for a per-language report (langs are few) — the 100 TB
    monitoring path swaps quantile_cont for the mergeable
    percentile_approx sketch (a_approx_error_bound pattern).
    """
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), " +")).cast("long")
    return (
        docs.select(
            "lang",
            "source",
            n_tokens.alias("n_tokens"),
            F.col("n_chars").cast("double").alias("chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_tokens").alias("total_tokens"),
            quantize6(F.avg("chars")).alias("avg_chars"),
            quantize6(F.percentile("chars", F.lit(0.5))).alias("p50_chars"),
            quantize6(F.percentile("chars", F.lit(0.9))).alias("p90_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------

EMB_DIM = 64

QUANT_SQL = """
WITH v AS (
  SELECT vec_id,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
),
mm AS (
  SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM v GROUP BY pos
),
q AS (
  SELECT v.vec_id, v.pos, v.x, mm.mn, mm.mx,
         CASE WHEN mm.mx = mm.mn THEN CAST(0 AS BIGINT)
              ELSE CAST(floor((v.x - mm.mn) / (mm.mx - mm.mn) * 255 + 0.5)
                        AS BIGINT) - 128 END AS code
  FROM v JOIN mm USING (pos)
),
r AS (
  SELECT vec_id, code, x,
         mn + CAST(code + 128 AS DOUBLE) / 255 * (mx - mn) AS xhat
  FROM q
)
SELECT vec_id,
       CAST(SUM(code) AS BIGINT) AS code_sum,
       CAST(FLOOR(CAST((AVG(ABS(x - xhat))) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS mean_abs_err
FROM r
GROUP BY vec_id
ORDER BY vec_id
"""


@plan("emb_quantize_int8", oracle=QUANT_SQL)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column: global
    per-dimension min/max → 255-step affine codes → per-vector code
    checksum and mean absolute reconstruction error. The standard 4×
    compression step before ANN serving; the checksum value-checks
    every code against the oracle without emitting an array column
    (which the driver canonicalizer cannot sort).

    Shape: the min/max aggregate sees (vector x dim) exploded rows but
    combines partially to 64 groups; the 64-row result is collected
    into ONE broadcast row, and quantization + error fold run as array
    expressions in the corpus scan — the corpus itself never shuffles,
    and the only wide exchange is the final output sort. floor(x+0.5)
    rounding and sequential error folds keep both engines bit-equal
    (Spark double->int CAST truncates while DuckDB rounds, so CAST is
    never applied to a fractional value directly).
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    mm = (
        emb.select(F.posexplode("e").alias("pos0", "x"))
        .groupBy("pos0")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos0", "mn", "mx"))
            ).alias("mm")
        )
    )
    withmm = emb.join(F.broadcast(mm))  # single-row scalar broadcast
    mn = lambda i: F.element_at(F.col("mm"), i).getField("mn")  # noqa: E731
    mx = lambda i: F.element_at(F.col("mm"), i).getField("mx")  # noqa: E731
    code = lambda i: (  # noqa: E731
        F.when(mx(i) == mn(i), F.lit(0).cast("long")).otherwise(
            F.floor(
                (F.element_at(F.col("e"), i) - mn(i))
                / (mx(i) - mn(i))
                * 255
                + 0.5
            )
            - 128
        )
    )
    xhat = lambda i: (  # noqa: E731
        mn(i) + (code(i) + 128).cast("double") / 255 * (mx(i) - mn(i))
    )
    dims = F.sequence(F.lit(1), F.lit(EMB_DIM))
    return withmm.select(
        "vec_id",
        F.aggregate(
            dims,
            F.lit(0).cast("long"),
            lambda acc, i: acc + code(i),
        ).alias("code_sum"),
        quantize6(F.aggregate(
                dims,
                F.lit(0.0),
                lambda acc, i: acc
                + F.abs(F.element_at(F.col("e"), i) - xhat(i)),
            )
            / EMB_DIM).alias("mean_abs_err"),
    ).orderBy("vec_id")


SQ_TOPK = 5
SQ_N_QUERIES = 10
SQ_RECALL_MIN = 0.6

SQ_RECALL_SQL = f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings
WHERE vec_id < {SQ_N_QUERIES}
ORDER BY query_id
"""


@plan("sim_sq_topk_recall", oracle=SQ_RECALL_SQL)
def sim_sq_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) similarity search, recall-verified.

    The serving-side composition of ``emb_quantize_int8`` with top-k
    search: vectors are reconstructed from their 255-step affine codes
    (global per-dim min/max, single-row broadcast) and ranked by
    quantized cosine; the plan computes the EXACT top-{SQ_TOPK} and the
    QUANTIZED top-{SQ_TOPK} in the same pairs pass and emits, per
    query, a boolean asserting recall@{SQ_TOPK} >= {SQ_RECALL_MIN}.
    Like ``a_approx_error_bound``, the approximation itself is
    engine-specific but its quality bound is oracle-checkable: the
    oracle emits TRUE per query, so a hash match proves the quantized
    index met the recall bar. Production serves codes only (4x less
    memory bandwidth than float32); this plan is the verification twin
    that keeps that path honest.

    Shape: quantize + reconstruct are scan-stage array expressions
    (codes built once per vector, map-side); one broadcast-queries x
    corpus pass scores both exact and quantized cosine per pair; two
    window ranks + one per-query aggregate compute the set overlap.
    The corpus never shuffles; cost is O(queries x corpus), the same
    as the labeled-exact baseline it verifies against.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    mm = (
        emb.select(F.posexplode("e").alias("pos0", "x"))
        .groupBy("pos0")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(F.collect_list(F.struct("pos0", "mn", "mx"))).alias(
                "mm"
            )
        )
    )
    withmm = emb.join(F.broadcast(mm))  # single-row scalar broadcast
    mn = lambda i: F.element_at(F.col("mm"), i).getField("mn")  # noqa: E731
    mx = lambda i: F.element_at(F.col("mm"), i).getField("mx")  # noqa: E731
    code = lambda i: (  # noqa: E731
        F.when(mx(i) == mn(i), F.lit(0).cast("long")).otherwise(
            F.floor(
                (F.element_at(F.col("e"), i) - mn(i)) / (mx(i) - mn(i)) * 255
                + 0.5
            )
            - 128
        )
    )
    xhat = lambda i: (  # noqa: E731
        mn(i) + (code(i) + 128).cast("double") / 255 * (mx(i) - mn(i))
    )
    dims = F.sequence(F.lit(1), F.lit(EMB_DIM))
    vecs = withmm.select(
        "vec_id",
        "e",
        F.transform(dims, lambda i: xhat(i)).alias("eq"),
    )

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    vecs = vecs.withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e")))).withColumn(
        "nrmq", F.sqrt(_dot(F.col("eq"), F.col("eq")))
    )
    q = vecs.filter(F.col("vec_id") < SQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("q_e"),
        F.col("eq").alias("q_eq"),
        F.col("nrm").alias("q_nrm"),
        F.col("nrmq").alias("q_nrmq"),
    )
    c = vecs.select(
        F.col("vec_id").alias("cand_id"),
        F.col("e").alias("c_e"),
        F.col("eq").alias("c_eq"),
        F.col("nrm").alias("c_nrm"),
        F.col("nrmq").alias("c_nrmq"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (_dot(F.col("q_e"), F.col("c_e")) / (F.col("q_nrm") * F.col("c_nrm"))).alias(
                "cos_exact"
            ),
            (
                _dot(F.col("q_eq"), F.col("c_eq"))
                / (F.col("q_nrmq") * F.col("c_nrmq"))
            ).alias("cos_sq"),
        )
    )
    w_e = Window.partitionBy("query_id").orderBy(F.desc("cos_exact"), "cand_id")
    w_q = Window.partitionBy("query_id").orderBy(F.desc("cos_sq"), "cand_id")
    ranked = pairs.withColumn("rn_e", F.row_number().over(w_e)).withColumn(
        "rn_q", F.row_number().over(w_q)
    )
    per_query = ranked.groupBy("query_id").agg(
        F.collect_set(F.when(F.col("rn_e") <= SQ_TOPK, F.col("cand_id"))).alias(
            "exact_set"
        ),
        F.collect_set(F.when(F.col("rn_q") <= SQ_TOPK, F.col("cand_id"))).alias(
            "sq_set"
        ),
    )
    return per_query.select(
        "query_id",
        (
            F.size(F.array_intersect("exact_set", "sq_set"))
            >= F.lit(int(SQ_TOPK * SQ_RECALL_MIN))
        ).alias("recall_ok"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# centroid-distance outlier culling
# ---------------------------------------------------------------------------

OUTLIER_COS_MAX = 0.0  # cull vectors whose cosine to their label
# centroid is below this (~10% of the synthetic corpus)

OUTLIER_SQL = f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
c AS (
  SELECT label, pos, CAST(FLOOR(CAST((AVG(x)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS cv
  FROM (
    SELECT label, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos
    FROM v
  )
  GROUP BY label, pos
),
ca AS (
  SELECT label, list(cv ORDER BY pos) AS cent FROM c GROUP BY label
),
s AS (
  SELECT v.vec_id, v.label,
         list_sum(list_transform(v.e, (x, i) -> x * ca.cent[i]))
           / (sqrt(list_sum(list_transform(v.e, x -> x * x)))
              * sqrt(list_sum(list_transform(ca.cent, x -> x * x))))
           AS cos
  FROM v JOIN ca USING (label)
)
SELECT vec_id, label, CAST(FLOOR(CAST((cos) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS centroid_cosine
FROM s
WHERE cos < {OUTLIER_COS_MAX}
ORDER BY vec_id
"""


@plan("emb_outlier_filter", oracle=OUTLIER_SQL)
def emb_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier culling: flag vectors far from their own
    label's centroid (cosine below threshold) — the cheap semantic
    sanity gate that catches mislabeled or garbage embeddings before
    they pollute retrieval training.

    The centroid aggregate shuffles (label x dim) partial sums, is
    rounded to 6 decimals (AVG is float-order-dependent; rounding the
    centroid itself makes every downstream cosine deterministic), and
    broadcasts ~labels rows back into the corpus scan where the cosine
    is an unrolled codegen expression — corpus never shuffles; same
    broadcast-the-small-statistic shape as curate_decontaminate.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cent = (
        emb.select("label", F.posexplode("e").alias("pos0", "x"))
        .groupBy("label", "pos0")
        .agg(quantize6(F.avg("x")).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "cv"))),
                lambda s: s.getField("cv"),
            ).alias("cent")
        )
    )
    joined = emb.join(F.broadcast(cent), "label")
    dot = F.aggregate(
        F.zip_with("e", "cent", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(col, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot / (nrm(F.col("e")) * nrm(F.col("cent")))
    return (
        joined.select(
            "vec_id",
            "label",
            cos.alias("cos"),
        )
        .filter(F.col("cos") < OUTLIER_COS_MAX)
        .select(
            "vec_id", "label", quantize6("cos").alias("centroid_cosine")
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# gate funnel report
# ---------------------------------------------------------------------------

MIN_TOKENS = 20  # length gate

FUNNEL_SQL = f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), ' +') AS toks,
         md5(regexp_replace(lower(trim(text)), '[ ]+', ' ', 'g'))
           AS norm_digest
  FROM documents
),
s AS (
  SELECT doc_id, norm_digest,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         len(toks) >= {MIN_TOKENS} AS pass_len,
         (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
            >= {MIN_DISTINCT_RATIO}
          AND CAST(list_max(list_transform(list_distinct(toks),
                u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
              / len(toks) <= {MAX_TOP_TOKEN_FRAC}) AS pass_rep,
         doc_id = MIN(doc_id) OVER (PARTITION BY norm_digest)
           AS pass_dedup
  FROM t
)
SELECT stage, n_docs, total_tokens FROM (
  SELECT 0 AS ord, 'ingested' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM s
  UNION ALL
  SELECT 1, 'length', CAST(COUNT(*) FILTER (pass_len) AS BIGINT),
         CAST(SUM(n_tokens) FILTER (pass_len) AS BIGINT) FROM s
  UNION ALL
  SELECT 2, 'repetition', CAST(COUNT(*) FILTER (pass_len AND pass_rep) AS BIGINT),
         CAST(SUM(n_tokens) FILTER (pass_len AND pass_rep) AS BIGINT) FROM s
  UNION ALL
  SELECT 3, 'dedup', CAST(COUNT(*) FILTER (pass_len AND pass_rep AND pass_dedup) AS BIGINT),
         CAST(SUM(n_tokens) FILTER (pass_len AND pass_rep AND pass_dedup) AS BIGINT) FROM s
)
ORDER BY ord
"""


@plan("curate_gate_funnel", oracle=FUNNEL_SQL)
def curate_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel report: documents and tokens surviving each
    successive gate (length → repetition → normalized dedup) — the
    observability table a corpus run prints so a threshold change or a
    boilerplate flood is visible as a stage-level drop, before anyone
    trains on the result.

    One scan computes every gate flag as a column expression; the
    dedup flag is a min-over-digest window (digests shuffle, text
    doesn't); the funnel itself is four conditional aggregates over
    the flag columns (one partial-combining pass), NOT four separate
    filtered scans. Stage order is an explicit column so the report
    sorts stably.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " +")
    norm = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    )
    from pyspark.sql.window import Window as W

    s = docs.select(
        "doc_id",
        toks.alias("toks"),
        norm.alias("norm_digest"),
    ).select(
        "doc_id",
        "norm_digest",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") >= MIN_TOKENS).alias("pass_len"),
        (
            (
                F.size(F.array_distinct("toks")).cast("double")
                / F.size("toks")
                >= MIN_DISTINCT_RATIO
            )
            & (
                _top_count(F.col("toks")).cast("double") / F.size("toks")
                <= MAX_TOP_TOKEN_FRAC
            )
        ).alias("pass_rep"),
    ).withColumn(
        "pass_dedup",
        F.col("doc_id")
        == F.min("doc_id").over(W.partitionBy("norm_digest")),
    )
    stages = [
        (0, "ingested", F.lit(True)),
        (1, "length", F.col("pass_len")),
        (2, "repetition", F.col("pass_len") & F.col("pass_rep")),
        (
            3,
            "dedup",
            F.col("pass_len") & F.col("pass_rep") & F.col("pass_dedup"),
        ),
    ]
    aggs = []
    for ord_, name, cond in stages:
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"d{ord_}")
        )
        aggs.append(
            F.sum(F.when(cond, F.col("n_tokens")).otherwise(0)).alias(
                f"t{ord_}"
            )
        )
    row = s.agg(*aggs)
    # pivot the 1-row aggregate with inline(array(struct(...))) — the
    # unionByName-of-selects form re-referenced `row` per stage, and
    # Catalyst duplicated the whole scan+window subtree 4x (the same
    # shape bug operators/expectations.check had; PLANS_AUDIT's
    # dup-scan column caught this one)
    structs = [
        F.struct(
            F.lit(ord_).alias("ord"),
            F.lit(name).alias("stage"),
            F.col(f"d{ord_}").cast("long").alias("n_docs"),
            F.col(f"t{ord_}").cast("long").alias("total_tokens"),
        )
        for ord_, name, _ in stages
    ]
    return (
        row.select(F.inline(F.array(*structs)))
        .orderBy("ord")
        .select("stage", "n_docs", "total_tokens")
    )


# ---------------------------------------------------------------------------
# distributed covariance + PCA invariant check
# ---------------------------------------------------------------------------

COV_SQL = """
WITH v AS (
  SELECT CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q,
         i, vec_id
  FROM (
    SELECT unnest(embedding) AS x,
           unnest(range(1, len(embedding) + 1)) AS i,
           vec_id
    FROM embeddings
  )
),
p AS (
  SELECT a.i AS i, b.i AS j, a.q AS qi, b.q AS qj
  FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.i <= b.i
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings)
SELECT i, j,
       CAST(FLOOR(((CAST(SUM(qi * qj) AS DOUBLE)
              - CAST(SUM(qi) AS DOUBLE) * CAST(SUM(qj) AS DOUBLE)
                / (SELECT n FROM n))
             / (SELECT n FROM n) / 1000000000000.0)
            * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS cov
FROM p
GROUP BY i, j
ORDER BY i, j
"""


def _covariance_partials(emb: DataFrame) -> DataFrame:
    """Combined covariance partials (i, j, sxy, sx, sy, n) of a
    (vec_id, e: array<double>) frame — the one-pass statistic PCA /
    whitening / Mahalanobis outlier scoring all start from; mean and
    count fall out of the same rows for free.

    Scale shape (the RowMatrix / tree-aggregate pattern): each Arrow
    batch folds its vectors into ONE partial (sum_outer[d,d],
    sum[d], count) via a NumPy outer-product accumulation — the
    shuffle then carries O(partitions x dim^2) partial rows, never
    O(vectors) — and the final combine is a dim^2-group aggregate.
    The naive alternative (explode every (i,j) pair per vector)
    shuffles dim^2 rows PER VECTOR through the same aggregate, 5000x
    more at this dim. Upper triangle only (cov is symmetric); values
    are UNROUNDED here — the emb_covariance plan rounds for output,
    downstream math (PCA trace/eig) consumes this helper directly.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["e"].to_numpy()).astype(np.float64)
            outer = x.T @ x  # (dim, dim) sum of outer products
            sums = x.sum(axis=0)
            d = x.shape[1]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int64"),
                    "j": (ju + 1).astype("int64"),
                    "sxy": outer[iu, ju],
                    "sx": sums[iu],
                    "sy": sums[ju],
                    "cnt": np.full(len(iu), len(x), dtype="int64"),
                }
            )

    part = emb.mapInPandas(
        partials, schema="i long, j long, sxy double, sx double, sy double, cnt long"
    )
    return part.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("cnt").alias("n"),
    )


def _covariance_of(emb: DataFrame) -> DataFrame:
    """Finished covariance (i, j, cov) from the combined partials —
    see `_covariance_partials` for the tree-aggregate scale story."""
    return _covariance_partials(emb).select(
        "i",
        "j",
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.col("n")).alias(
            "cov"
        ),
    )


def _covariance_unrounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _covariance_of(
        load(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    )


def _covariance_exact(emb_q: DataFrame) -> DataFrame:
    """Combine-order-free covariance over integer-quantized vectors
    (``emb_q``: vec_id, q array<long> in micro-units).

    Same tree-aggregate shape as ``_covariance_of`` (one NumPy partial
    per Arrow chunk, shuffle carries O(partitions x dim^2) rows), but
    every accumulation is EXACT integer arithmetic: int64 outer
    products per chunk, DECIMAL(38,0) sums in the combine. Floating
    point enters only once, in the final per-group division — an
    identical expression tree to the oracle's, so both engines emit
    bit-identical doubles regardless of partitioning or combine order.
    Chunks are capped at 4096 rows so an int64 partial cannot overflow
    (|q| <= ~2^21 micro-units -> per-chunk sums < 2^46).
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def partials(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), 4096):
                chunk = pdf.iloc[lo : lo + 4096]
                if not len(chunk):
                    continue
                q = np.vstack(chunk["q"].to_numpy()).astype(np.int64)
                # loud guard, not silent wrap: 4096 rows × (2^21)^2
                # stays under 2^63; a testdata regen with |x| > ~2
                # must fail here, not corrupt sums
                if np.abs(q).max(initial=0) >= 1 << 21:
                    raise ValueError(
                        f"quantized magnitude {np.abs(q).max()} exceeds "
                        f"int64-exact bound 2^21; shrink chunk or rescale"
                    )
                outer = q.T @ q  # exact int64 sum of outer products
                sums = q.sum(axis=0)
                d = q.shape[1]
                iu, ju = np.triu_indices(d)
                yield pd.DataFrame(
                    {
                        "i": (iu + 1).astype("int64"),
                        "j": (ju + 1).astype("int64"),
                        "sxy": outer[iu, ju],
                        "sx": sums[iu],
                        "sy": sums[ju],
                        "cnt": np.full(len(iu), len(q), dtype="int64"),
                    }
                )

    part = emb_q.mapInPandas(
        partials, schema="i long, j long, sxy long, sx long, sy long, cnt long"
    )
    agg = part.groupBy("i", "j").agg(
        F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy"),
        F.sum(F.col("sx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("sy").cast("decimal(38,0)")).alias("sy"),
        F.sum("cnt").cast("double").alias("n"),
    )
    return agg.select(
        "i",
        "j",
        (
            (
                F.col("sxy").cast("double")
                - F.col("sx").cast("double")
                * F.col("sy").cast("double")
                / F.col("n")
            )
            / F.col("n")
            / F.lit(1000000000000.0)
        ).alias("cov"),
    )


@plan("emb_covariance", oracle=COV_SQL)
def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output form of the distributed covariance, hash-stable across
    engines: inputs are quantized ONCE to integer micro-units with
    ``FLOOR(x * 1e6 + 0.5)`` — the identical IEEE double expression on
    both engines, so the quantization is bit-deterministic — then
    ``_covariance_exact`` accumulates sxy/sx/sy as exact integers
    (int64 chunk partials, DECIMAL(38,0) combine; HUGEINT in the
    DuckDB oracle). Combine order therefore CANNOT change the value —
    the round-3 defect was double partials whose order-dependent last
    ulp flipped entries that landed near a ROUND(6) boundary.
    Downstream consumers that keep computing (PCA trace/eig) use the
    unrounded float helper ``_covariance_unrounded`` — they need the
    un-quantized statistic, not cross-engine hash parity.

    The OUTPUT is quantized with the same FLOOR idiom (quantize6), not
    ROUND: at sf0.01 cell (6,10) is a tiny negative that ROUND-to-6dp
    turns into ``-0.0`` in DuckDB but ``+0.0`` in Spark — numerically
    equal, hash-unequal. FLOOR-quantize never emits a signed zero and
    is the identical IEEE expression on both engines."""
    emb_q = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1000000.0) + F.lit(0.5)),
        ).alias("q"),
    )
    return (
        _covariance_exact(emb_q)
        .select("i", "j", quantize6(F.col("cov")).alias("cov"))
        .orderBy("i", "j")
    )

PCA_CHECK_SQL = """
WITH v AS (
  SELECT unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
         unnest(range(1, len(embedding) + 1)) AS i,
         vec_id
  FROM embeddings
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
diag AS (
  SELECT i, (SUM(x * x) - SUM(x) * SUM(x) / (SELECT n FROM n))
              / (SELECT n FROM n) AS var
  FROM v GROUP BY i
)
SELECT CAST(FLOOR(CAST((SUM(var)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS trace_cov, TRUE AS eig_sum_ok
FROM diag
"""


@plan("emb_pca_variance_check", oracle=PCA_CHECK_SQL)
def emb_pca_variance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA with a verifiable invariant: the covariance comes from the
    distributed one-pass aggregate (emb_covariance), the
    eigendecomposition runs DRIVER-SIDE on the collected dim x dim
    matrix (64x64 — a driver eig on a collected matrix is the correct
    scale split: the data-sized work is the covariance pass, the
    dim-sized work is O(dim^3) regardless of corpus size, exactly how
    MLlib's RowMatrix.computePrincipalComponents works), and the plan
    emits trace(cov) alongside a boolean asserting sum(eigenvalues) ==
    trace within 1e-6 — the spectral invariant that fails if either the
    covariance or the decomposition is wrong. The oracle recomputes the
    trace in SQL and expects TRUE, so the hash check verifies both.
    Projection onto the top components is then a broadcast matmul in
    the scan (engine-specific values -> not emitted here).
    """
    import numpy as np  # noqa: PLC0415

    cov_rows = _covariance_unrounded(spark, sf_dir).collect()  # dim^2/2 rows, tiny
    d = max(r.j for r in cov_rows)
    c = np.zeros((d, d))
    for r in cov_rows:
        c[r.i - 1, r.j - 1] = r.cov
        c[r.j - 1, r.i - 1] = r.cov
    eigvals = np.linalg.eigvalsh(c)
    trace = float(np.trace(c))
    ok = bool(abs(float(eigvals.sum()) - trace) <= 1e-6)
    return local_df(
        spark, [(quantize_float(trace, 6), ok)], "trace_cov double, eig_sum_ok boolean"
    )


WHITEN_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       64 AS dim,
       TRUE AS diag_ok,
       TRUE AS offdiag_ok
FROM embeddings
"""


@plan("emb_whiten_check", oracle=WHITEN_SQL)
def emb_whiten_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening, end-to-end and self-verifying: distributed
    covariance (one-pass tree aggregate) → driver-side
    eigendecomposition → W = V·diag(1/sqrt(λ+ε))·Vᵀ broadcast into an
    Arrow kernel that whitens the corpus map-side → the covariance of
    the WHITENED corpus recomputed with the same distributed aggregate
    must be the identity. The plan emits booleans asserting
    max|diag−1| and max|offdiag| are within tolerance; the oracle
    expects TRUE, so the hash check verifies the whole
    covariance→eig→project→re-verify loop.

    Scale split: the two corpus passes are the data-sized work (both
    tree aggregates, corpus never shuffles); eig is O(dim³) on the
    driver regardless of corpus size; W rides to executors inside the
    kernel closure (dim² doubles — broadcast-variable territory, never
    a join). This is the standard embedding-decorrelation step before
    retrieval or as drift diagnosis."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    # ONE corpus pass yields cov, mean AND n: collect the combined
    # partials (i, j, sxy, sx, sy, n — dim^2/2 rows, tiny) and finish
    # the cov/mean divisions driver-side. The previous form ran three
    # extra jobs (separate mean pass + count) for statistics this
    # aggregate already carries; mean/cov here feed a tolerance check,
    # not a hash compare, so the driver-side division order is free.
    agg_rows = _covariance_partials(emb).collect()
    d = max(r.j for r in agg_rows)
    n = int(next(r.n for r in agg_rows))
    c = np.zeros((d, d))
    mu = np.zeros(d)
    for r in agg_rows:
        cov = (r.sxy - r.sx * r.sy / n) / n
        c[r.i - 1, r.j - 1] = cov
        c[r.j - 1, r.i - 1] = cov
        if r.i == r.j:
            mu[r.i - 1] = r.sx / n
    evals, evecs = np.linalg.eigh(c)
    eps = 1e-9
    lam = np.maximum(evals, 0.0)
    w = evecs @ np.diag(1.0 / np.sqrt(lam + eps)) @ evecs.T

    def whiten(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["e"].to_numpy()).astype(np.float64)
            z = (x - mu) @ w.T
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "e": list(z)})

    whitened = emb.mapInPandas(whiten, schema="vec_id long, e array<double>")
    wcov = _covariance_of(whitened).collect()
    diag_err = max(abs(r.cov - 1.0) for r in wcov if r.i == r.j)
    off_err = max((abs(r.cov) for r in wcov if r.i != r.j), default=0.0)
    # The whitened variance along an eigendirection is lambda/(lambda
    # + eps), so a near-degenerate dimension legitimately falls
    # eps/(lambda_min + eps) short of 1 — scale the tolerance to that
    # data-dependent floor so the check fails only on real math
    # errors, not on whatever spectrum the next testdata regen draws.
    lam_min = float(lam.min())
    tol = max(1e-4, 2.0 * eps / (lam_min + eps))
    return local_df(
        spark,
        [(n, d, bool(diag_err <= tol), bool(off_err <= tol))],
        "n_vectors long, dim int, diag_ok boolean, offdiag_ok boolean",
    )


# ---------------------------------------------------------------------------
# emb_centroid_drift: embedding-distribution drift between two cohorts
# ---------------------------------------------------------------------------

CENTROID_DRIFT_SQL = """
WITH v AS (
  SELECT label, vec_id % 2 AS half,
         CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q,
         i
  FROM (
    SELECT label, vec_id, unnest(embedding) AS x,
           unnest(range(1, len(embedding) + 1)) AS i
    FROM embeddings
  )
),
m AS (
  SELECT label, i,
         CAST(SUM(CASE WHEN half = 0 THEN q END) AS BIGINT) AS qa,
         CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN half = 1 THEN q END) AS BIGINT) AS qb,
         CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS nb
  FROM v GROUP BY label, i
)
SELECT label, i,
       CAST(FLOOR(qa / (na * 1000000.0) * 1000000.0 + 0.5) AS BIGINT)
         / 1000000.0 AS mean_a,
       CAST(FLOOR(qb / (nb * 1000000.0) * 1000000.0 + 0.5) AS BIGINT)
         / 1000000.0 AS mean_b,
       CAST(FLOOR(ABS(qa / (na * 1000000.0) - qb / (nb * 1000000.0))
            * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS drift
FROM m
ORDER BY label, i
"""


@plan("emb_centroid_drift", oracle=CENTROID_DRIFT_SQL)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) centroid drift between two cohorts of
    the embedding corpus (vec_id parity stands in for the
    before/after split): the embedding-space analogue of
    dq-style profile drift — when a re-embedding run, a model bump or
    a data-source shift moves a class centroid, this report localizes
    WHICH class and WHICH dimensions moved. Per-dim rows on purpose:
    a scalar drift norm needs a cross-dimension float fold (ordering
    hazard) and hides the diagnosis; the per-dim frame is both
    parity-trivial and more useful.

    Parity: components are FLOOR-quantized to exact BIGINTs at scan
    stage, so each cohort sum is an exact integer; the two means and
    their difference are then identical IEEE expressions on identical
    operands. Integer-moments discipline throughout (the emb_covariance
    idiom).

    Scale: posexplode shuffles (label, dim) keyed integers — never
    the vectors; both cohorts ride ONE scan via conditional
    aggregation; output is labels × dims rows."""
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        "half",
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("x").cast("double") * 1000000.0 + 0.5)
        .cast("long")
        .alias("q"),
    )
    m = v.groupBy("label", "i").agg(
        F.sum(F.when(F.col("half") == 0, F.col("q"))).cast("long").alias("qa"),
        F.count(F.when(F.col("half") == 0, 1)).cast("long").alias("na"),
        F.sum(F.when(F.col("half") == 1, F.col("q"))).cast("long").alias("qb"),
        F.count(F.when(F.col("half") == 1, 1)).cast("long").alias("nb"),
    )
    mean_a = F.col("qa") / (F.col("na") * 1000000.0)
    mean_b = F.col("qb") / (F.col("nb") * 1000000.0)
    return m.select(
        "label",
        "i",
        quantize6(mean_a).alias("mean_a"),
        quantize6(mean_b).alias("mean_b"),
        quantize6(F.abs(mean_a - mean_b)).alias("drift"),
    ).orderBy("label", "i")


# ---------------------------------------------------------------------------
# emb_dim_variance_topk: variance-based dimension selection
# ---------------------------------------------------------------------------

DIM_VAR_TOPK = 16

DIM_VAR_SQL = f"""
WITH v AS (
  SELECT CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q, i
  FROM (
    SELECT unnest(embedding) AS x,
           unnest(range(1, len(embedding) + 1)) AS i
    FROM embeddings
  )
),
m AS (
  SELECT i,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s,
         CAST(SUM(q * q) AS BIGINT) AS ss
  FROM v GROUP BY i
),
scored AS (
  SELECT i,
         CAST(FLOOR((CAST(ss AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
              * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS variance_q,
         ROW_NUMBER() OVER (
           ORDER BY CAST(FLOOR((CAST(ss AS DOUBLE) / n
                    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                    * 1000000.0 + 0.5) AS BIGINT) DESC, i) AS rank
  FROM m
)
SELECT i, variance_q, rank
FROM scored WHERE rank <= {DIM_VAR_TOPK}
ORDER BY rank
"""


@plan("emb_dim_variance_topk", oracle=DIM_VAR_SQL)
def emb_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-based dimension selection: the {DIM_VAR_TOPK} most
    informative embedding dimensions ranked by population variance —
    the cheap feature-selection / dimension-pruning pass run before
    committing a reduced-width index (cf. Matryoshka truncation, which
    emb_matryoshka_recall then validates).

    Parity/overflow discipline: components quantize to BIGINT
    micro-units at scan stage, so Σq and Σq² are EXACT integers
    (safe to n ≈ 2.7e7 vectors; beyond that, pre-center with a
    broadcast approximate mean first — the emb_covariance idiom).
    The variance Σq²/n − (Σq/n)² then divides exact integers — the
    same IEEE expression on identical operands in both engines —
    and is FLOOR-quantized BEFORE ranking with an index tie-break,
    so both engines rank identical values. (The earlier all-integer
    form n·Σq² − (Σq)² was exact but overflows int64 at n ≈ 5.5e3 —
    Spark would wrap silently while DuckDB raises; divide-first keeps
    magnitudes bounded at any corpus size.)

    Scale: posexplode shuffles (dim, q) integers with map-side
    combine — shuffle O(partitions × dims), vectors never move; the
    top-k is a TakeOrdered over 64 rows."""
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("x").cast("double") * 1000000.0 + 0.5)
        .cast("long")
        .alias("q"),
    )
    m = v.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ss"),
    )
    var = (
        F.col("ss").cast("double") / F.col("n")
        - (F.col("s").cast("double") / F.col("n"))
        * (F.col("s").cast("double") / F.col("n"))
    )
    scored = m.select("i", quantize6(var).alias("variance_q"))
    w = Window.orderBy(F.desc("variance_q"), "i")
    return (
        scored.orderBy(F.desc("variance_q"), "i")
        .limit(DIM_VAR_TOPK)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# sim_bq_topk — binary-quantized (1-bit) similarity search
# ---------------------------------------------------------------------------

BQ_TOPK = 5
BQ_N_QUERIES = 10


def _bq_pack_sql(half: int) -> str:
    lo = 1 + 32 * half
    return (
        f"CAST(list_sum(list_transform(range({lo}, {lo + 32}), i -> "
        "CASE WHEN e[i] >= 0 THEN (1::BIGINT << (i - " f"{lo}" ")) "
        "ELSE 0::BIGINT END)) AS BIGINT)"
    )


BQ_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
         {_bq_pack_sql(0)} AS h1,
         {_bq_pack_sql(1)} AS h2
  FROM v
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         bit_count(xor(q.h1, c.h1)) + bit_count(xor(q.h2, c.h2)) AS hamming,
         list_sum(list_transform(q.e, (x, i) -> x * c.e[i])) / (q.nrm * c.nrm)
           AS cos
  FROM n q, n c
  WHERE q.vec_id < {BQ_N_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, cand_id, hamming, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming, cand_id) AS rn
  FROM pairs
)
SELECT query_id, cand_id,
       CAST(hamming AS BIGINT) AS hamming,
       CAST(FLOOR(CAST(cos AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
         / 1000000.0 AS cosine,
       rn AS rank
FROM ranked WHERE rn <= {BQ_TOPK}
ORDER BY query_id, rank
"""


@plan("sim_bq_topk", oracle=BQ_SQL)
def sim_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized similarity search (round-7 addition): each
    embedding compresses to its 64 SIGN BITS (two 32-bit halves in
    BIGINTs — 32× less memory bandwidth than float32), candidates
    rank by Hamming distance (XOR + popcount, pure integer), and the
    exact cosine of each returned candidate rides along for
    calibration. The 1-bit flavor of the quantized-serving family
    (sim_sq_* is int8, sim_pq_* is codebook): the cheapest first-pass
    filter in modern multi-stage retrieval, re-ranked by the exact
    score downstream.

    Unlike the SQ/PQ recall twins, the ranking signal here is ALL
    INTEGER, so the full top-{BQ_TOPK} table value-hashes against the
    oracle — no recall-bound indirection. Packing is a codegen'd
    32-term sum per half (simple comparisons, no dot products);
    the ≤{BQ_N_QUERIES} queries broadcast against the sharded corpus
    (the whitelisted exact form); ranking state is per-query top-k.
    At scale the Hamming scan runs on codes only — 16 bytes/vector —
    and the float vectors are fetched just for the k winners.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )

    def pack(half: int):
        out = None
        for i in range(32):
            bit = F.when(
                F.element_at(F.col("e"), 32 * half + i + 1) >= 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            out = bit if out is None else out + bit
        return out.cast("long")

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    n = emb.select(
        "vec_id",
        "e",
        F.sqrt(_dot(F.col("e"), F.col("e"))).alias("nrm"),
        pack(0).alias("h1"),
        pack(1).alias("h2"),
    )
    q = n.filter(F.col("vec_id") < BQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("h1").alias("q1"),
        F.col("h2").alias("q2"),
    )
    c = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
        F.col("h1").alias("c1"),
        F.col("h2").alias("c2"),
    )
    hamming = (
        F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
        + F.bit_count(F.col("q2").bitwiseXOR(F.col("c2")))
    ).cast("long")
    cos = _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id", hamming.alias("hamming"), cos.alias("cos")
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "cand_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BQ_TOPK)
        .select(
            "query_id",
            "cand_id",
            "hamming",
            quantize6(F.col("cos")).alias("cosine"),
            F.col("rn").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# cluster-aware split + leakage audit
# ---------------------------------------------------------------------------


def _split_leakage_sql() -> str:
    # the near-dup cluster CTEs are the SAME text dedup_cluster_labels
    # gates (imported builders), so the leakage audit and the cluster
    # plan can never drift apart. sh_arr, pairs and edges are each read
    # more than once (edges once per recursion step): DuckDB 1.0 inlines
    # a plain CTE at every reference, so they are MATERIALIZED — same
    # digest, 23.8 s → 2.2 s at sf0.001 (4 DuckDB threads)
    from compendium_spark.plans.extended import (  # noqa: PLC0415
        _MINHASH_CAND_SQL_BODY,
        _SHINGLES_SQL,
        JACCARD_THRESHOLD,
        _minhash_sql_bands,
        _minhash_sql_sigs,
    )

    body = _MINHASH_CAND_SQL_BODY.format(
        sigs=_minhash_sql_sigs(), bands=_minhash_sql_bands()
    )
    split_case = (
        "CASE WHEN substring(md5(CAST({k} AS VARCHAR)), 1, 8)"
        f" < '{TRAIN_MAX}' THEN 'train'"
        " WHEN substring(md5(CAST({k} AS VARCHAR)), 1, 8)"
        f" < '{VAL_MAX}' THEN 'val'"
        " ELSE 'test' END"
    )
    return f"""
WITH RECURSIVE {body},
sh_arr AS MATERIALIZED (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sh_arr a ON doc_a = a.doc_id
  JOIN sh_arr b ON doc_b = b.doc_id
  WHERE 1.0 * len(list_intersect(a.sh, b.sh))
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
),
edges AS MATERIALIZED (
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
clusters AS (SELECT doc AS doc_id, MIN(lbl) AS cluster_id
             FROM reach GROUP BY doc),
assigned AS (
  SELECT d.doc_id,
         c.cluster_id,
         {split_case.format(k="d.doc_id")} AS doc_split,
         {split_case.format(k="COALESCE(c.cluster_id, d.doc_id)")}
           AS eff_split
  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
),
leaky AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS doclevel_leaky_clusters FROM (
    SELECT cluster_id FROM assigned WHERE cluster_id IS NOT NULL
    GROUP BY cluster_id HAVING COUNT(DISTINCT doc_split) > 1
  )
)
SELECT a.eff_split AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN a.cluster_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clustered,
       CAST(SUM(CASE WHEN a.doc_split <> a.eff_split THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved,
       l.doclevel_leaky_clusters
FROM assigned a, leaky l
GROUP BY a.eff_split, l.doclevel_leaky_clusters
ORDER BY split
"""


@plan("curate_split_leakage", oracle=_split_leakage_sql())
def curate_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split + leakage audit — the
    operator that keeps near-duplicate documents from straddling the
    split boundary (doc-level hashing leaks eval content into train
    whenever a near-dup pair lands in different splits; the classic
    benchmark-contamination mechanism). Every document inherits the
    split of its near-dup CLUSTER representative (md5-threshold on the
    cluster id — the same content-addressed ~80/10/10 rule as
    curate_split_assign, so unclustered docs keep their doc-level
    assignment bit-for-bit), and the report quantifies what doc-level
    splitting would have leaked: per split, document counts, clustered
    counts, moved-by-clustering counts, plus the number of clusters a
    doc-level split would have torn across boundaries.

    Shape: clusters come from the SAME min-label-propagation fixpoint
    dedup_cluster_labels gates (O(diameter) keyed rounds, edge list
    checkpointed once); the split expression is scan-stage; the audit
    is one (split)-keyed aggregate plus a 1-row leaky-cluster count
    broadcast — at 100 TB everything after the (tiny) cluster frame is
    a map-side expression over the corpus scan."""
    from compendium_spark.plans.extended import (  # noqa: PLC0415
        dedup_cluster_labels,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_cluster_labels(spark, sf_dir)

    def split_of(key):
        h = F.substring(F.md5(key.cast("string")), 1, 8)
        return (
            F.when(h < TRAIN_MAX, "train")
            .when(h < VAL_MAX, "val")
            .otherwise("test")
        )

    assigned = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        split_of(F.col("doc_id")).alias("doc_split"),
        split_of(F.coalesce("cluster_id", "doc_id")).alias("eff_split"),
    )
    leaky = (
        assigned.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.countDistinct("doc_split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("doclevel_leaky_clusters"))
    )
    return (
        assigned.groupBy(F.col("eff_split").alias("split"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("cluster_id").isNotNull().cast("int"))
            .cast("long")
            .alias("n_clustered"),
            F.sum((F.col("doc_split") != F.col("eff_split")).cast("int"))
            .cast("long")
            .alias("n_moved"),
        )
        .crossJoin(F.broadcast(leaky))
        .orderBy("split")
    )


