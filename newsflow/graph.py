"""Graph analytics over the co-mention network — weighted PageRank with
a fixed, oracle-exact iteration schedule.

The reference's network_analysis.py builds org partnership graphs and
ranks partners by raw co-mention counts; PageRank is the canonical
next step (influence, not just degree). Like sim/kmeans.py, the
operator is engineered so the ITERATIVE computation has an exact
unrolled DuckDB oracle: edge probabilities are exact integer ratios,
both engines use the same damping literals (``1 - 0.85`` and ``0.15``
are DIFFERENT doubles — the literal text is shared instead), and each
iteration's scores pass through the shared epsilon-rounding so
cross-engine float-summation noise cannot accumulate.

Scale shape (the standard DataFrame PageRank step): out-degree
normalization is one groupBy + join on src; each iteration is one
shuffle (contributions grouped by dst) joined back to the node spine —
O(edges) per round, no driver state beyond the 1-row node count, which
broadcasts. A fixed iteration count keeps the lineage bounded; an
open-ended convergence loop would add `localCheckpoint` truncation
exactly as dedup/cluster.py does.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from newsflow import artifacts
from newsflow.functions.scalars import dround
from newsflow.registry import register

PR_ITERS = 3
PR_DAMP = "0.85"  # literal TEXT shared by both engines (see module doc)
PR_BASE = "0.15"
PR_ROUND = 8


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """(src, dst, w) weighted directed edges → (org, pr) after ``iters``
    damped iterations from the uniform start. Nodes are the distinct
    edge sources (a symmetric graph has no dangling nodes; for directed
    inputs, sinks redistribute nothing — documented, matching the
    oracle)."""
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("wdeg"))
    probs = edges.join(wdeg, "src").select(
        "src", "dst", (F.col("w") / F.col("wdeg")).alias("p")
    )
    nodes = edges.select(F.col("src").alias("org")).distinct()
    n_row = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n")))
    damp = F.expr(PR_DAMP)
    base = F.expr(PR_BASE) / F.col("n")
    ranks = nodes.crossJoin(n_row).select(
        "org", "n", dround(F.lit(1.0) / F.col("n"), PR_ROUND).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            probs.join(
                ranks.select(F.col("org").alias("src"), "pr"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("c"))
            .select(F.col("dst").alias("org"), "c")
        )
        ranks = (
            ranks.select("org", "n")
            .join(contrib, "org", "left")
            .select(
                "org",
                "n",
                dround(
                    base + damp * F.coalesce(F.col("c"), F.lit(0.0)),
                    PR_ROUND,
                ).alias("pr"),
            )
        )
    return ranks.select("org", "pr")


def pagerank_oracle_sql(edges_rel: str, iters: int = PR_ITERS) -> str:
    """DuckDB twin over a relation producing (src, dst, w)."""
    prev = "r0"
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS (
      SELECT n.org, n.n,
             (round({PR_BASE} / n.n
                    + {PR_DAMP} * coalesce(s.c, 0.0) + 1e-9, {PR_ROUND})
              + 0.0) AS pr
      FROM nodes_n n LEFT JOIN (
        SELECT e.dst, sum({prev}.pr * e.p) AS c
        FROM probs e JOIN {prev} ON {prev}.org = e.src
        GROUP BY e.dst
      ) s ON s.dst = n.org
    )"""
        )
        prev = f"r{k}"
    chain = ",\n    ".join(steps)
    return f"""
    edges AS ({edges_rel}),
    wdeg AS (SELECT src, sum(w) AS wdeg FROM edges GROUP BY src),
    probs AS (
      SELECT e.src, e.dst, e.w / d.wdeg AS p
      FROM edges e JOIN wdeg d USING (src)
    ),
    nodes AS (SELECT DISTINCT src AS org FROM edges),
    nodes_n AS (
      SELECT org, (SELECT count(*) FROM nodes) AS n FROM nodes
    ),
    r0 AS (
      SELECT org, n, (round(1.0 / n + 1e-9, {PR_ROUND}) + 0.0) AS pr
      FROM nodes_n
    ),
    {chain}
    SELECT org, pr FROM {prev}
    """


# --------------------------------------------------------------------------
# Registered query: PageRank over the gdelt org co-mention graph
# --------------------------------------------------------------------------


def _co_edges(core: DataFrame) -> DataFrame:
    """Symmetric weighted org-org edges: orgs co-mentioned in the same
    article, counted across articles. Pair expansion is a row-local
    higher-order function (no per-article self-join)."""
    pairs = core.filter(F.size("orgs_arr") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(orgs_arr, x -> "
                "transform(filter(orgs_arr, y -> y != x), "
                "y -> struct(x AS src, y AS dst))))"
            )
        ).alias("e")
    )
    return pairs.select("e.src", "e.dst").groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("w")
    )


_SQL_CO_EDGES = """
      SELECT e['src'] AS src, e['dst'] AS dst, count(*) AS w FROM (
        SELECT unnest(flatten(list_transform(o, x ->
                 list_transform(list_filter(o, y -> y <> x),
                                y -> {'src': x, 'dst': y})))) AS e
        FROM (
          SELECT list_filter(string_split(orgs_str, ';'), x -> x <> '') AS o
          FROM core
        )
        WHERE len(o) >= 2
      )
      GROUP BY 1, 2
"""


def _org_pagerank_oracle() -> str:
    from newsflow.etl.queries import _SQL_WITH_CORE

    return f"{_SQL_WITH_CORE},\n{pagerank_oracle_sql(_SQL_CO_EDGES)}"


@register(
    "org_pagerank",
    oracle=_org_pagerank_oracle(),
    tags=("graph", "iterative", "reference-replay"),
)
def org_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the org co-mention graph of the
    synthesized gdelt core (network_analysis.py:56-68 ranks partners by
    raw degree; this ranks by influence) — {PR_ITERS} damped iterations,
    exact unrolled oracle."""
    from newsflow.etl.queries import _core_df

    return pagerank(_co_edges(_core_df(spark, sf_dir)))


# --------------------------------------------------------------------------
# Registered query: per-node triangle counts (clustering structure)
# --------------------------------------------------------------------------


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(src, dst, w) symmetric edges → (org, n_triangles) per node.

    Distributed triangle enumeration with DEGREE-ORDERED orientation
    (the Cohen / "compact-forward" refinement): each undirected edge is
    oriented from its lower-(degree, id) endpoint to the higher, every
    triangle is then built exactly once from (a→b)+(b→c) closed by
    (a→c), and one explode+groupBy attributes it to its three corners.

    Why degree order instead of id order: wedge fan-out during the pivot
    join is Σ outdeg(v)², and under degree orientation outdeg(v) ≤
    O(√m) for EVERY node — a hub's edges all point INTO it, so a
    celebrity org co-mentioned with 10⁶ others contributes zero wedges
    instead of 10¹². Id order has no such bound (a hub with a small id
    keeps its full fan-out); at 100× hub skew this is the difference
    between one straggler task enumerating the whole graph's wedges and
    a uniformly bounded per-task load (tests/test_graph.py asserts the
    fan-out bound on a star graph). The per-node counts are
    orientation-invariant, so the oracle is unchanged.

    Ties: (degree, id) is a total order — id breaks degree ties — so
    orientation is deterministic and acyclic.

    Lineage: the oriented edge list feeds three branches of the
    triangle plan (the pivot join's two sides and the closure join), and
    its degree computation reads the undirected edges twice. This
    function places no barrier, so every branch re-derives the
    orientation from ``edges`` (24 exchanges over the gdelt co-mention
    graph): meant for small or already-cached inputs. The registered
    `org_triangle_counts` keeps the oriented edges as a corpus-level
    artifact instead (`_org_edges`: persisted, not checkpointed, so a
    lost block recomputes from lineage) and runs only the wedge and
    closure joins of `count_triangles` per call (3 exchanges).
    """
    return count_triangles(oriented_edges(edges))


def oriented_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, w) symmetric edges → (a, b): each undirected edge once,
    oriented from its lower-(degree, id) endpoint to the higher."""
    und = edges.filter(F.col("src") < F.col("dst")).select("src", "dst")
    deg = und.select(
        F.explode(F.array("src", "dst")).alias("node")
    ).groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    lower = F.struct(F.col("deg_src"), F.col("src")) < F.struct(
        F.col("deg_dst"), F.col("dst")
    )
    return (
        und.join(
            deg.select(
                F.col("node").alias("src"), F.col("deg").alias("deg_src")
            ),
            "src",
        )
        .join(
            deg.select(
                F.col("node").alias("dst"), F.col("deg").alias("deg_dst")
            ),
            "dst",
        )
        .select(
            F.when(lower, F.col("src")).otherwise(F.col("dst")).alias("a"),
            F.when(lower, F.col("dst")).otherwise(F.col("src")).alias("b"),
        )
    )


def count_triangles(oriented: DataFrame) -> DataFrame:
    """Oriented (a, b) edges → (org, n_triangles): wedges (a→b)+(b→c)
    closed by (a→c), each triangle counted once at each corner."""
    e2 = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = oriented.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tris = (
        oriented.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
        )
        .select("a", "b", "c")
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("org")
    )
    return corners.groupBy("org").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def _org_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-ordered org co-mention edges of sf_dir's gdelt core,
    one cached frame per corpus (newsflow.artifacts), built from the
    cached core; the first triangle count fills its cache."""
    from newsflow.etl.queries import _core_df

    def build():
        und = oriented_edges(_co_edges(_core_df(spark, sf_dir)))
        und = artifacts.persisted(und)
        return und, (und,)

    return artifacts.get(spark, "org_edges", sf_dir, ("documents",), build)


def triangle_oracle_sql(edges_rel: str) -> str:
    return f"""
    edges AS ({edges_rel}),
    und AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
    tris AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT org, count(*) AS n_triangles FROM (
      SELECT a AS org FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    ) GROUP BY org
    """


def _org_triangles_oracle() -> str:
    from newsflow.etl.queries import _SQL_WITH_CORE

    return f"{_SQL_WITH_CORE},\n{triangle_oracle_sql(_SQL_CO_EDGES)}"


@register(
    "org_triangle_counts",
    oracle=_org_triangles_oracle(),
    tags=("graph", "reference-replay"),
)
def org_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-org triangle participation in the co-mention graph — the
    local-clustering signal behind community detection (the reference's
    network_analysis.py reports raw partner degree; triangles separate
    genuine cliques from hub noise)."""
    return count_triangles(_org_edges(spark, sf_dir))
