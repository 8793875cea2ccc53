"""sim_mmr_topk — Maximal Marginal Relevance diversified retrieval
(Carbonell & Goldstein, SIGIR 1998). Built + oracle-pinned on-deck in
round 10, registered round 11.

The missing retrieval-quality operator next to sim_rrf_fusion: plain
top-k returns near-duplicate passages when the corpus is redundant
(exactly what an LLM context window can least afford); MMR greedily
re-ranks a relevance pool so each pick maximizes
``λ·sim(q, d) − (1−λ)·max_{s∈Selected} sim(d, s)``.

Determinism (two-engine): λ = 0.7 becomes the INTEGER objective
``7·qd_micro − 3·max_dd_micro`` over micro-unit (1e-6-grid) cosines —
exact BIGINT arithmetic in both engines; ties break on cand_id. The
greedy loop is k=MMR_K unrolled chained CTEs in the oracle and a
per-query Arrow kernel in Spark (int64 numpy on the same integer
lattice; pairwise cosines use the sequential per-dim accumulation that
is bit-identical to DuckDB's list_sum fold, norms ride in from the
same JVM expression both top-k plans already gate).

Scale shape: the relevance pool here is the documented ≤10-query
broadcast exact sweep (the gateable baseline); in production the pool
comes from any ANN plan (LSH/IVF/PQ — pool choice is orthogonal to the
re-rank). Everything after the pool is bounded by queries × MMR_POOL:
the pairwise-diversity matrix is MMR_POOL² per query computed inside
one Arrow kernel per query group — never a corpus-sized join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from compendium_spark.plans.registry import plan
from compendium_spark.tables import load

DIM = 64
MMR_POOL = 20  # relevance pool per query (top-M by cosine)
MMR_K = 5  # diversified picks per query
# λ = 0.7 → integer objective 7·qd − 3·pen over micro-unit cosines


def _load_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compendium_spark.plans.extended import _load_embeddings  # noqa: PLC0415

    return _load_embeddings(spark, sf_dir)


def _sql_norms() -> str:
    return """
n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings)
)"""


def _mmr_sql() -> str:
    parts = [f"""
WITH {_sql_norms()},
qd AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(FLOOR(CAST((list_sum(list_transform(q.e, (x, i) -> x * c.e[i]))
           / (q.nrm * c.nrm)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
           AS qd_micro
  FROM n q, n c
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
pool AS (
  SELECT query_id, cand_id, qd_micro FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY qd_micro DESC, cand_id) AS rn
    FROM qd
  ) WHERE rn <= {MMR_POOL}
),
dd AS (
  SELECT a.query_id, a.cand_id AS da, b.cand_id AS db,
         CAST(FLOOR(CAST((list_sum(list_transform(na.e, (x, i) -> x * nb.e[i]))
           / (na.nrm * nb.nrm)) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
           AS dd_micro
  FROM pool a
  JOIN pool b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
  JOIN n na ON a.cand_id = na.vec_id
  JOIN n nb ON b.cand_id = nb.vec_id
),
sel_1 AS (
  SELECT query_id, cand_id, qd_micro, 1 AS rank,
         7 * qd_micro AS score_micro
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY qd_micro DESC, cand_id) AS rn
    FROM pool
  ) WHERE rn = 1
),
selall_1 AS (SELECT * FROM sel_1)"""]
    for r in range(2, MMR_K + 1):
        parts.append(f""",
pen_{r} AS (
  SELECT d.query_id, d.da AS cand_id, MAX(d.dd_micro) AS pen
  FROM dd d
  JOIN selall_{r - 1} s ON d.query_id = s.query_id AND d.db = s.cand_id
  GROUP BY d.query_id, d.da
),
sel_{r} AS (
  SELECT query_id, cand_id, qd_micro, {r} AS rank, score_micro FROM (
    SELECT p.query_id, p.cand_id, p.qd_micro,
           7 * p.qd_micro - 3 * pen.pen AS score_micro,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY 7 * p.qd_micro - 3 * pen.pen DESC,
                                       p.cand_id) AS rn
    FROM pool p
    JOIN pen_{r} pen
      ON p.query_id = pen.query_id AND p.cand_id = pen.cand_id
    WHERE NOT EXISTS (
      SELECT 1 FROM selall_{r - 1} s
      WHERE s.query_id = p.query_id AND s.cand_id = p.cand_id)
  ) WHERE rn = 1
),
selall_{r} AS (SELECT * FROM selall_{r - 1} UNION ALL SELECT * FROM sel_{r})""")
    parts.append(f"""
SELECT query_id, rank, cand_id,
       qd_micro / 1000000.0 AS cosine,
       score_micro / 10000000.0 AS mmr_score
FROM selall_{MMR_K}
ORDER BY query_id, rank
""")
    return "".join(parts)


SIM_MMR_SQL = _mmr_sql()


@plan("sim_mmr_topk", oracle=SIM_MMR_SQL)
def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{MMR_K} over a top-{MMR_POOL} relevance
    pool (module docstring). Output: (query_id, rank, cand_id,
    cosine, mmr_score) — rank 1 is the pure-relevance pick, later
    ranks trade relevance against similarity to what's already
    selected (λ=0.7)."""
    import pandas as pd  # noqa: PLC0415

    from compendium_spark.plans.extended import _dot_unrolled  # noqa: PLC0415

    emb = _load_emb(spark, sf_dir)
    n = emb.withColumn("nrm", F.sqrt(_dot_unrolled(F.col("e"), F.col("e"))))
    q = n.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cos = _dot_unrolled(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    qd = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.floor(cos.cast("double") * 1000000.0 + 0.5)
            .cast("long")
            .alias("qd_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qd_micro"), "cand_id")
    pool = (
        qd.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_POOL)
        .select("query_id", "cand_id", "qd_micro")
    )
    # fetch pool embeddings + norms for the in-kernel diversity matrix
    pooled = pool.join(c, "cand_id").select(
        "query_id", "cand_id", "qd_micro", "ce", "cn"
    )

    def greedy(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("cand_id", ignore_index=True)  # tie order
        m = len(pdf)
        emb_m = np.array(pdf["ce"].tolist(), dtype=np.float64)  # (m, DIM)
        nrm = pdf["cn"].to_numpy(dtype=np.float64)
        qd_micro = pdf["qd_micro"].to_numpy(dtype=np.int64)
        # pairwise cosine, sequential per-dim accumulation (list_sum
        # fold parity — never np.dot's blocked rounding)
        dot = np.zeros((m, m), dtype=np.float64)
        for d in range(emb_m.shape[1]):
            col = emb_m[:, d]
            dot += col[:, None] * col[None, :]
        cosm = dot / (nrm[:, None] * nrm[None, :])
        dd_micro = np.floor(cosm * 1000000.0 + 0.5).astype(np.int64)
        picked: list[int] = []
        scores: list[int] = []
        neg = np.int64(np.iinfo(np.int64).min)
        for r in range(min(MMR_K, m)):
            if r == 0:
                sc = 7 * qd_micro
            else:
                pen = dd_micro[:, picked].max(axis=1)
                sc = 7 * qd_micro - 3 * pen
            sc = sc.copy()
            sc[picked] = neg
            i = int(np.argmax(sc))  # first max = smallest cand_id tie
            picked.append(i)
            scores.append(int(sc[i]))
        return pd.DataFrame(
            {
                "query_id": [key[0]] * len(picked),
                "rank": np.arange(1, len(picked) + 1, dtype=np.int32),
                "cand_id": pdf["cand_id"].to_numpy()[picked],
                "cosine": qd_micro[picked] / 1000000.0,
                "mmr_score": np.array(scores, dtype=np.float64) / 10000000.0,
            }
        )

    out_schema = (
        "query_id long, rank int, cand_id long, cosine double, "
        "mmr_score double"
    )
    return (
        pooled.groupBy("query_id")
        .applyInPandas(greedy, out_schema)
        .orderBy("query_id", "rank")
    )


