"""IVF (inverted-file) approximate nearest neighbors — the third ANN
tier: coarse-quantize the corpus into cells, probe only the `n_probe`
cells nearest each query, exact-rerank inside them.

Two quantizers, each split into an index BUILD and a per-request SEARCH:

- deterministic Lloyd k-means (sim/kmeans.py): `build_native_ivf_index`
  / `native_ivf_search`, exactly oracled end to end;
- seeded MLlib KMeans: `build_ivf_index` / `ivf_search`, rows-only (its
  k-means|| init is engine-specific).

Cost model. The build scans the corpus to fit the quantizer (native: a
seed collect plus one shuffle-and-collect per Lloyd recompute; MLlib:
its own iterations) and to assign cells, then persists the inverted
lists — cell-assigned, normed corpus rows — and materializes them with
one count. For the native index on a 4-core host at 400 vectors of dim
64 that is 12 Spark jobs and 1.3-1.6 s, paid ONCE per corpus: the
registry queries fetch the index through `newsflow.artifacts`, which
keeps it per Spark application and embeddings-file identity and
rebuilds only when the file changes or ``catalog.clearCache()`` drops
the lists. A search then plans with zero Spark jobs (the centroids are
a prebuilt literal expression or a LocalRelation) and its action reads
the persisted lists: probe each query's ``n_probe`` nearest cells,
optionally semi-join the lists with a neighbor filter, join probed
cells to their lists, and window the exact cosine top-k per query. On
the same host a warm request plans in 0.4-0.55 s and runs 3 jobs (4
with a neighbor filter); the benchmark's curate_search requests take
0.53-0.72 s (median per run), where rebuilding the index inside every
request took 1.43-2.50 s.
Each query touches ``n_probe / n_cells`` of the corpus; at 100 TB the
cell column is the bucketing key of the inverted lists (ops/layout.py),
making a probe a partition-pruned scan.

Recall contract: with n_probe == n_cells the probe set is the whole
corpus, so the output EQUALS brute force (`knn.cosine_topk`) —
tests/test_sim_ivf.py asserts that identity, plus a recall floor for
partial probing.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.window import Window

from newsflow import artifacts
from newsflow.functions.scalars import dround
from newsflow.sim.kmeans import ROUND_DIST, _dist2_expr, kmeans_fit
from newsflow.sim.knn import as_double_array, dot_expr, norm_expr
from newsflow.tables import load_table, local_df, spread


def _with_unit_features(embeddings: DataFrame, id_alias: str) -> DataFrame:
    vec = as_double_array(F.col("embedding"))
    df = embeddings.select(
        F.col("vec_id").alias(id_alias), vec.alias("vec")
    ).withColumn("nrm", norm_expr(F.col("vec")))
    return df.select(
        id_alias,
        F.transform("vec", lambda x: x / F.col("nrm")).alias("unit"),
    )


def _top_k(cands: DataFrame, sim: Column, k: int, round_to: int) -> DataFrame:
    """Candidate pairs → the k best (query_id, neighbor_id, cosine_sim)
    per query, ranked by the ROUNDED ``sim`` with ties on neighbor id —
    `knn.cosine_topk`'s order, so float noise below the rounding can't
    reorder the k boundary between engines."""
    scored = cands.select(
        "query_id",
        "neighbor_id",
        dround(sim, round_to).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@dataclass(frozen=True)
class IvfIndex:
    """MLlib-quantizer IVF index: ``centroids`` (cell, centroid) is a
    LocalRelation of the fitted model's centers; ``lists`` (neighbor_id,
    unit, cell) is persisted and owned by whoever built it."""

    centroids: DataFrame
    lists: DataFrame


def build_ivf_index(
    embeddings: DataFrame, n_cells: int = 16, seed: int = 42
) -> IvfIndex:
    """Fit seeded KMeans on the unit vectors and persist the
    cell-assigned corpus. The caller owns ``lists`` (unpersist it, or
    get the index through `cached_ivf_index`)."""
    units = _with_unit_features(embeddings, "neighbor_id").select(
        "neighbor_id", "unit", array_to_vector("unit").alias("features")
    )
    # A coarse quantizer only needs rough cells: neighbors are exact-
    # reranked inside the probed cells, so extra KMeans refinement buys
    # recall only through marginally tighter cell boundaries. 8
    # iterations converges cell assignment on unit vectors; the MLlib
    # default (20) roughly doubles index build time for no measured
    # recall change (tests/test_sim_ivf.py pins the recall floor).
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="features", maxIter=8
    ).fit(units.select("features"))
    lists = (
        model.transform(units)
        .select("neighbor_id", "unit", F.col("prediction").alias("cell"))
        .persist()
    )
    lists.count()
    # Centroid table is tiny (n_cells rows) → broadcast by every search.
    centroids = local_df(
        embeddings.sparkSession,
        [(i, [float(x) for x in c]) for i, c in
         enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    return IvfIndex(centroids, lists)


def ivf_search(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Approximate cosine top-k over an MLlib-quantizer index.

    Output contract matches `knn.cosine_topk` (query_id, neighbor_id,
    cosine_sim); self-matches excluded; deterministic tie-breaks.
    """
    qs = _with_unit_features(queries, "query_id")
    # Unit query · centroid — larger dot = nearer cell (centroids need
    # no normalization for ranking: argmax over cos ∝ dot/|c| differs,
    # so keep the true cosine to match KMeans' euclidean cell geometry).
    q_cells = (
        qs.join(F.broadcast(index.centroids))
        .withColumn(
            "cell_sim",
            dot_expr(F.col("unit"), F.col("centroid"))
            / norm_expr(F.col("centroid")),
        )
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cell_sim"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("cell_rank") <= n_probe)
        .select("query_id", F.col("unit").alias("qunit"), "cell")
    )
    cands = q_cells.join(index.lists, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _top_k(
        cands, dot_expr(F.col("qunit"), F.col("unit")), k, round_to
    )


def cached_ivf_index(
    spark: SparkSession, sf_dir: str, n_cells: int
) -> IvfIndex:
    """The session's MLlib-quantizer index over sf_dir's embeddings."""

    def build():
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        index = build_ivf_index(emb, n_cells=n_cells)
        return index, (index.lists,)

    return artifacts.get(
        spark, f"ivf_mllib/{n_cells}", sf_dir, ("embeddings",), build
    )


@dataclass(frozen=True)
class NativeIvfIndex:
    """Deterministic-quantizer IVF index. ``cell_order`` is the final
    Lloyd centroids compiled into one expression over a query's
    ``qvec``: the K (rounded d², cell) structs, sorted nearest first —
    built once here, because composing the K·dim literals cost ~0.15 s
    of driver time per request (4-core host, K=8, dim 64). ``lists``
    (neighbor_id, nvec, cell, n_norm) is persisted and owned by whoever
    built it."""

    cell_order: Column
    lists: DataFrame


def build_native_ivf_index(embeddings: DataFrame) -> NativeIvfIndex:
    """Run the deterministic Lloyd loop (sim/kmeans.py) and persist the
    cell-assigned, normed corpus. Cell assignment is literal-centroid
    codegen — zero shuffle over the corpus. The caller owns ``lists``
    (unpersist it, or get the index through `cached_native_ivf_index`)."""
    assigned, cents = kmeans_fit(embeddings)
    cell_order = F.array_sort(
        F.array(
            *[
                F.struct(
                    dround(_dist2_expr("qvec", cents[c]), ROUND_DIST).alias(
                        "d"
                    ),
                    F.lit(c).alias("c"),
                )
                for c in sorted(cents)
            ]
        )
    )
    lists = (
        assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nvec"),
            F.col("cluster").alias("cell"),
        )
        .withColumn("n_norm", norm_expr(F.col("nvec")))
        .persist()
    )
    lists.count()
    return NativeIvfIndex(cell_order, lists)


def native_ivf_search(
    index: NativeIvfIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    round_to: int = 6,
    neighbor_filter: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k on the DETERMINISTIC quantizer —
    the IVF tier with an EXACT end-to-end DuckDB oracle
    (`ivf_native_oracle_sql`), unlike the MLlib-KMeans tier above whose
    k-means|| init is engine-specific.

    Probe: each query ranks the K centroid literals by the same
    (rounded d², cell) key as the Lloyd assignment — a row-local
    array_sort over K structs, no join — and searches its n_probe
    nearest cells with an exact cosine re-rank (rounded-sim + id tie
    discipline shared with `knn.cosine_topk`).

    Scale shape: the probed queries join the inverted lists on cell id
    (at 100 TB the lists are bucketed by cell — see ops/layout.py),
    candidates are bounded by the probed cells' sizes, and the final
    window runs per query over candidates only.

    ``neighbor_filter`` (one column of allowed neighbor ids) is the
    FILTERED-search form: the predicate is pushed onto the
    inverted-list side BELOW the probe — a semi-join on the lists
    before any candidate forms — so the result is the true top-k AMONG
    QUALIFYING vectors in the probed cells. Filtering the unfiltered
    top-k afterwards is the classic recall trap: a qualifying neighbor
    ranked k+1 overall but 1st among qualifiers would be lost, and most
    queries would return far fewer than k rows (tests/test_sim_ivf.py
    demonstrates the divergence on the real corpus). At 100 TB the
    filter column lives bucketed WITH the inverted lists
    (ops/layout.py), so this semi-join is co-located, not a shuffle."""
    corpus = index.lists
    if neighbor_filter is not None:
        # No forced broadcast: AQE broadcasts a small allowed set on
        # its own, and a large one (a 25%-of-corpus licence slice)
        # must stay a shuffle/co-located semi-join — forcing broadcast
        # here would OOM exactly at the scale the filter matters.
        allowed = neighbor_filter.select(
            F.col(neighbor_filter.columns[0]).alias("neighbor_id")
        )
        corpus = corpus.join(allowed, "neighbor_id", "left_semi")

    qs = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("qvec"),
    )
    probed = qs.select(
        "query_id",
        "qvec",
        norm_expr(F.col("qvec")).alias("q_norm"),
        F.explode(
            F.transform(
                F.slice(index.cell_order, 1, n_probe),
                lambda s: s["c"].cast("long"),
            )
        ).alias("cell"),
    )
    cands = probed.join(corpus, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sim = dot_expr(F.col("qvec"), F.col("nvec")) / (
        F.col("q_norm") * F.col("n_norm")
    )
    return _top_k(cands, sim, k, round_to)


def cached_native_ivf_index(
    spark: SparkSession, sf_dir: str
) -> NativeIvfIndex:
    """The session's deterministic-quantizer index over sf_dir's
    embeddings — shared by every request and recall eval on it."""

    def build():
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        index = build_native_ivf_index(emb)
        return index, (index.lists,)

    return artifacts.get(spark, "ivf_native", sf_dir, ("embeddings",), build)


def escalate_n_probe(
    selectivity: float,
    n_corpus: int,
    k: int = 5,
    k_clusters: int = 8,
    base: int = 2,
    margin: int = 4,
) -> int:
    """n_probe escalation rule for FILTERED IVF search (VERDICT r13
    Next #7), keyed on the filter's selectivity estimate.

    The filtered failure mode is candidate STARVATION, not probe
    misranking: the licence filter is uncorrelated with geometry, so a
    probed cell holds ~ selectivity * N / K qualifying vectors, and a
    fixed-probe search can simply run out of qualifying candidates
    before k. Probe enough cells that the EXPECTED qualifying
    candidate pool is margin * k:

        n_probe = clamp(ceil(margin * k * K / (selectivity * N)),
                        base, K)

    Measured on the sf0.01 corpus (N=500, K=8, k=5) at 5% selectivity:
    fixed 2 probes -> recall@5 0.55; this rule (margin=4 -> 7 probes)
    -> recall@5 1.0; the full curve is 2:0.55 / 3:0.625 / 4:0.75 /
    5:0.85 / 6:0.925 / 7:1.0 (tests/test_sim_ivf.py re-measures the
    endpoints). margin=4 is the >= 0.9 operating point there; margin=3
    (the expected-value minimum) gave 0.85. When the rule escalates to
    n_probe = K, the search degenerates to scanning every cell's
    qualifying slice — at which point the honest plan is the filtered
    brute-force baseline over the qualifying semi-join, which costs the
    same and is exact.

    ``selectivity`` is an ESTIMATE (catalog stats / a sampled count);
    the rule only places the recall-cost knee, so estimate error
    shifts cost, never correctness."""
    import math

    if selectivity <= 0 or n_corpus <= 0:
        return k_clusters
    need = math.ceil(
        margin * k * k_clusters / (selectivity * n_corpus)
    )
    return max(base, min(k_clusters, need))
