"""Similarity search over an embedding column (array<float>).

Two tiers:

* **Brute-force cosine top-k** (`cosine_topk`): broadcast the (small) query
  set against the full corpus — one pass, no shuffle of the corpus side,
  exact. This is the correctness baseline and is genuinely the right plan
  whenever |queries| is broadcast-able, even at 100 TB of corpus.
* **LSH-bucketed** (`lsh_topk`, sim/lsh.py): BucketedRandomProjectionLSH
  over L2-normalized vectors (unit-sphere euclidean ↔ cosine), pruning the
  candidate set per query — the path when the query side is also huge.

Dot products are computed as sequential double folds over the arrays —
bitwise-identical to DuckDB's list_dot_product(DOUBLE[]) (verified
empirically), which makes exact oracle comparison possible.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from newsflow.functions.scalars import dround


def as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over double arrays (JVM-side, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k most similar corpus
    vectors (self excluded), deterministic tie-break on neighbor id.

    ``queries`` is broadcast — the corpus never shuffles; the only exchange
    is the per-query top-k window, whose input is already reduced to
    |queries| × |corpus-partition| local winners by the row_number filter
    pushdown under AQE. For very large corpora, swap the window for a
    per-partition top-k + final merge (same semantics).
    """
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array("embedding").alias("vec"),
    ).withColumn("vec_norm", norm_expr(F.col("vec")))

    qs = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            as_double_array("embedding").alias("qvec"),
        ).withColumn("q_norm", norm_expr(F.col("qvec")))
    )

    sims = (
        corpus.join(qs, F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            dot_expr(F.col("qvec"), F.col("vec"))
            / (F.col("q_norm") * F.col("vec_norm")),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    # Rank by the ROUNDED similarity (the same rounding both engines
    # emit), not the raw double: two neighbors whose cosines differ only
    # below float noise could otherwise order differently between Spark
    # and the oracle (different summation association after codegen),
    # flipping membership at the k boundary. Ties within rounding
    # resolve on neighbor_id identically everywhere.
    w = Window.partitionBy("query_id").orderBy(
        F.desc(dround(F.col("sim"), round_to)), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            dround(F.col("sim"), round_to).alias("cosine_sim"),
        )
    )


def recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-k against the exact one.

    Both inputs carry (query_id, neighbor_id), one row per retrieved
    neighbor. Returns (query_id, n_hits, k, recall_at_k): ``k`` counts the
    exact side's rows per query, ``n_hits`` those the approximate side
    also returned. The join touches only the two result sets."""
    hits = approx.select(
        F.col("query_id").alias("aq"),
        F.col("neighbor_id").alias("an"),
        F.lit(1).alias("hit"),
    )
    n = F.count(F.lit(1))
    return (
        exact.select("query_id", "neighbor_id")
        .join(
            hits,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            n.alias("k"),
            dround(F.count("hit").cast("double") / n, 4).alias("recall_at_k"),
        )
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label per-dimension mean — the vector aggregate underlying IVF
    coarse quantization (posexplode + grouped mean, all JVM-side)."""
    dims = embeddings.select(
        "label",
        F.posexplode(as_double_array(F.col("embedding"))).alias("dim", "val"),
    )
    return dims.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        dround(
            F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("centroid_val"),
    )
