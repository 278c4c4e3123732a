"""Maximal Marginal Relevance (MMR) diversified top-k retrieval
(Carbonell & Goldstein, SIGIR'98) — the standard re-ranker that trades
relevance against redundancy when assembling a RAG context or an
eval-set sample from near-duplicate-heavy corpora.

score(c | S) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), greedily picking
the argmax k times.

Architecture for scale (the part that matters at 100 TB): the RETRIEVAL
stage is the distributed work — a brute-force/LSH cosine top-POOL
against the corpus (TakeOrderedAndProject, or the existing
`knn_cosine_lsh_native` tier). The MMR loop then operates on the fixed
POOL×POOL similarity matrix (400 rows here) — k tiny DataFrame jobs
over broadcast-sized frames. Neither the pool nor the sims is cached:
where Catalyst reuses no exchange, the loop re-derives the pool from the
embeddings scan (form 2 of the rule in newsflow/artifacts.py). A
query-scoped cache outlived its call and served a rewritten embeddings
file's old pool, and the warm call at sf0.01 ran no slower without it.

Exact-oracle engineering (same toolkit as graph.pagerank): the greedy
iteration is UNROLLED — k CTE levels in the DuckDB twin; λ exists only
as shared literal TEXT ("0.7"/"0.3"); relevance and pairwise sims are
epsilon-rounded at 6 decimals BEFORE any argmax, and every argmax
tie-breaks on vec_id, so both engines select identical sequences.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from newsflow.functions.scalars import dround
from newsflow.registry import register
from newsflow.sim.knn import as_double_array, dot_expr, norm_expr
from newsflow.tables import load_table

MMR_QUERY_ID = 0  # the query vector: embeddings row vec_id = 0
MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = "0.7"  # shared literal text — see module docstring
MMR_ONE_MINUS_LAMBDA = "0.3"

_SQL_COS = (
    "list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])))"
)


def mmr_oracle_sql(k: int = MMR_K) -> str:
    cos_qb = _SQL_COS.format(a="q", b="b")
    cos_pp = _SQL_COS.format(a="ea", b="eb")
    steps = [
        f"""sel1 AS (
  SELECT vec_id, rel, 1 AS rank,
         (round({MMR_LAMBDA} * rel + 1e-9, 6) + 0.0) AS mmr_score
  FROM pool ORDER BY rel DESC, vec_id LIMIT 1
)"""
    ]
    prev = "sel1"
    for i in range(2, k + 1):
        steps.append(
            f"""pick{i} AS (
  SELECT p.vec_id, p.rel, {i} AS rank,
         (round({MMR_LAMBDA} * p.rel
                - {MMR_ONE_MINUS_LAMBDA} * m.ms + 1e-9, 6) + 0.0)
           AS mmr_score
  FROM pool p
  JOIN (
    SELECT ia, max(sim) AS ms FROM sims
    WHERE ib IN (SELECT vec_id FROM {prev}) GROUP BY ia
  ) m ON m.ia = p.vec_id
  WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
  ORDER BY mmr_score DESC, p.vec_id LIMIT 1
),
sel{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i})"""
        )
        prev = f"sel{i}"
    chain = ",\n".join(steps)
    return f"""
WITH pool AS (
  SELECT b.vec_id, (round({cos_qb} + 1e-9, 6) + 0.0) AS rel
  FROM embeddings q JOIN embeddings b
    ON q.vec_id = {MMR_QUERY_ID} AND b.vec_id <> {MMR_QUERY_ID}
  ORDER BY rel DESC, b.vec_id LIMIT {MMR_POOL}
),
sims AS (
  SELECT pa.vec_id AS ia, pb.vec_id AS ib,
         (round({cos_pp} + 1e-9, 6) + 0.0) AS sim
  FROM pool pa JOIN embeddings ea ON ea.vec_id = pa.vec_id
  JOIN pool pb ON pb.vec_id <> pa.vec_id
  JOIN embeddings eb ON eb.vec_id = pb.vec_id
),
{chain}
SELECT vec_id, rel AS relevance, rank, mmr_score FROM {prev}
"""


def _cos(va, vb) -> F.Column:
    return dot_expr(va, vb) / (norm_expr(va) * norm_expr(vb))


@register(
    "mmr_diversified_topk",
    oracle=mmr_oracle_sql(),
    tags=("similarity", "retrieval", "iterative"),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{MMR_K} from a cosine top-{MMR_POOL} candidate
    pool (query = embeddings row {MMR_QUERY_ID}, λ = {MMR_LAMBDA}),
    exact unrolled oracle."""
    embs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    q = embs.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("v").alias("qv")
    )
    pool = (
        embs.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            dround(_cos(F.col("v"), F.col("qv")), 6).alias("rel"),
            "v",
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
    )
    pa = pool.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"), "rel"
    )
    pb = pool.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    sims = (
        pa.join(pb, F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            dround(_cos(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
    )
    lam = F.expr(MMR_LAMBDA)
    oml = F.expr(MMR_ONE_MINUS_LAMBDA)

    selected = (
        pool.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "rel",
            F.lit(1).alias("rank"),
            (F.round(lam * F.col("rel") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "mmr_score"
            ),
        )
    )
    for i in range(2, MMR_K + 1):
        sel_ids = selected.select("vec_id")
        ms = (
            sims.join(
                sel_ids.withColumnRenamed("vec_id", "ib"), "ib"
            )
            .groupBy("ia")
            .agg(F.max("sim").alias("ms"))
        )
        pick = (
            pool.join(sel_ids, "vec_id", "left_anti")
            .join(ms, pool.vec_id == ms.ia)
            .select(
                "vec_id",
                "rel",
                F.lit(i).alias("rank"),
                (
                    F.round(
                        lam * F.col("rel") - oml * F.col("ms") + F.lit(1e-9),
                        6,
                    )
                    + F.lit(0.0)
                ).alias("mmr_score"),
            )
            .orderBy(F.col("mmr_score").desc(), "vec_id")
            .limit(1)
        )
        selected = selected.unionByName(pick)
    return selected.select(
        "vec_id", F.col("rel").alias("relevance"), "rank", "mmr_score"
    )
