"""Deterministic k-means (fixed seeds, fixed Lloyd iterations) over the
embeddings table — the iterative ML clustering operator, built so the
ENTIRE retrieve→assign→recompute→reassign pipeline has an exact DuckDB
oracle (unlike MLlib KMeans, whose k-means|| init is engine-specific;
that tier exists as `knn_cosine_ivf`'s coarse quantizer, rows-only).

Determinism recipe (the same toolkit as sim/hyperplane.py):
- Seeds are DATA, not RNG: centroid c starts as vec_id c's embedding.
- Assignment key is (rounded squared distance, cluster id) minimized
  lexicographically — float summation-order noise between engines is
  absorbed by the rounding, ties resolve on cluster id identically.
- Recomputed centroids use the decimal-exact mean (sum cast to
  DECIMAL(28,12) → double ÷ count, then epsilon-round to 8 dp), the
  formula already hash-proven by `embedding_label_centroids`.
- Empty clusters keep their previous centroid (COALESCE in the oracle,
  dict-default in the driver loop).

Scale shape (the classic Spark Lloyd step): centroids are O(K·dim)
driver state compiled into literal-array expressions, so ASSIGNMENT is
row-local whole-stage codegen — no shuffle, no UDF, corpus never moves.
Each iteration pays one posexplode + groupBy(cluster, dim) shuffle of
K·dim partial sums (map-side combined) and an O(K·dim) collect. 2
iterations = 2 such shuffles; a 100 TB corpus streams through the same
plan with centroids broadcast in the closure.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from newsflow.functions.scalars import dround
from newsflow.sim.knn import as_double_array

K_CLUSTERS = 8
LLOYD_ITERS = 2
ROUND_DIST = 4
ROUND_CENTROID = 8


def _dist2_expr(vec_col: str, centroid: list[float]):
    arr = "array(" + ", ".join(f"{x!r}D" for x in centroid) + ")"
    return F.expr(
        f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (a, x) -> a + x)"
    )


def assign_clusters(
    vectors: DataFrame, centroids: dict[int, list[float]]
) -> DataFrame:
    """vec_id, v → + cluster: argmin over (rounded d², cluster id).

    Centroids become literal arrays in a single array_min(struct...)
    expression — row-local, codegen, no shuffle.
    """
    structs = [
        F.struct(
            dround(_dist2_expr("v", centroids[c]), ROUND_DIST).alias("d"),
            F.lit(c).alias("c"),
        )
        for c in sorted(centroids)
    ]
    return vectors.withColumn(
        "cluster", F.array_min(F.array(*structs))["c"].cast("long")
    )


def _recompute(assigned: DataFrame, prev: dict[int, list[float]]):
    """Decimal-exact per-dimension means, rounded; empty clusters keep
    their previous centroid. O(K·dim) rows collected."""
    rows = (
        assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(
            dround(
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                ROUND_CENTROID,
            ).alias("val")
        )
        .collect()
    )
    cents = {c: list(vec) for c, vec in prev.items()}
    for r in rows:
        cents[r["cluster"]][r["dim"]] = r["val"]
    return cents


def kmeans_fit(
    embeddings: DataFrame,
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Run the deterministic Lloyd loop and return BOTH products: the
    final (vec_id, v, cluster) assignment frame and the final centroid
    dict (the c1 relation of the unrolled oracle) — the quantizer state
    `sim/ivf.py::build_native_ivf_index` persists as its index."""
    vecs = embeddings.select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    seed_rows = (
        vecs.filter(F.col("vec_id") < K_CLUSTERS)
        .orderBy("vec_id")
        .collect()
    )
    cents = {int(r["vec_id"]): list(r["v"]) for r in seed_rows}
    assigned = assign_clusters(vecs, cents)
    for _ in range(LLOYD_ITERS - 1):
        cents = _recompute(assigned, cents)
        assigned = assign_clusters(vecs, cents)
    return assigned, cents


def kmeans_assign(embeddings: DataFrame) -> DataFrame:
    """(vec_id, cluster) after LLOYD_ITERS deterministic Lloyd
    iterations from the vec_id < K seed centroids."""
    assigned, _ = kmeans_fit(embeddings)
    return assigned.select("vec_id", "cluster")


def _sql_dist_stage(
    dims_rel: str, cents_rel: str, rn_max: int = 1, where: str = ""
) -> str:
    """Rounded-argmin cluster ranking per vector. rn_max = 1 is the
    Lloyd assignment; rn_max = n_probe (with a query filter in
    ``where``) is the IVF probe stage of `ivf_native_oracle_sql`."""
    return f"""
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster)
             AS rn
    FROM (
      SELECT d.vec_id, c.cluster,
             round(sum((d.val - c.val) * (d.val - c.val)) + 1e-9,
                   {ROUND_DIST}) + 0.0 AS d2
      FROM {dims_rel} d JOIN {cents_rel} c USING (dim)
      {where}
      GROUP BY d.vec_id, c.cluster
    )
  ) WHERE rn <= {rn_max}
    """


def kmeans_ctes_sql() -> str:
    """The unrolled-Lloyd CTE chain (v → dims → c0 → a0 → m1 → c1 → a1)
    as a reusable WITH body: `kmeans_oracle_sql` selects a1 directly;
    `ivf_native_oracle_sql` (sim/queries.py) extends the same chain with
    a probe stage against c1 — the quantizer state and the index share
    ONE oracle definition, so they cannot drift."""
    assert LLOYD_ITERS == 2, "oracle is unrolled for exactly 2 iterations"
    return f"""v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    dims AS (
      SELECT vec_id, i AS dim, e[i + 1] AS val
      FROM v, UNNEST(range(len(e))) AS u(i)
    ),
    c0 AS (
      SELECT vec_id AS cluster, dim, val FROM dims
      WHERE vec_id < {K_CLUSTERS}
    ),
    a0 AS ({_sql_dist_stage("dims", "c0")}),
    m1 AS (
      SELECT a0.cluster, d.dim,
             round(cast(sum(cast(d.val AS DECIMAL(28,12))) as double)
                   / count(*) + 1e-9, {ROUND_CENTROID}) + 0.0 AS val
      FROM a0 JOIN dims d USING (vec_id)
      GROUP BY a0.cluster, d.dim
    ),
    c1 AS (
      SELECT c0.cluster, c0.dim, COALESCE(m1.val, c0.val) AS val
      FROM c0 LEFT JOIN m1 ON m1.cluster = c0.cluster AND m1.dim = c0.dim
    ),
    a1 AS ({_sql_dist_stage("dims", "c1")})"""


def kmeans_oracle_sql() -> str:
    """DuckDB twin: the same seeds, the same rounded-argmin assignment,
    the same decimal-exact centroid means, unrolled for LLOYD_ITERS=2."""
    return f"""
    WITH {kmeans_ctes_sql()}
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a1
    """
