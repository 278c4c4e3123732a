"""Similarity-search tests: LSH recall vs brute force, centroid sanity."""

from __future__ import annotations

import pyspark.sql.functions as F

from newsflow.sim import knn, lsh
from newsflow.tables import load_table
from tests.conftest import SF_ORACLE


def test_lsh_recall_against_brute_force(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh.lsh_topk(
            emb, queries, k=5, min_cosine=0.15, num_hash_tables=10
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9"


def test_hyperplane_lsh_recall_and_determinism(spark):
    from newsflow.sim.hyperplane import hyperplane_topk

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn.cosine_topk(emb, queries, k=5).collect()
    }
    run = lambda: {  # noqa: E731
        (r["query_id"], r["neighbor_id"])
        for r in hyperplane_topk(emb, queries, k=5).collect()
    }
    approx = run()
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"sign-LSH recall {recall:.2f} < 0.85"
    # Deterministic: identical pair set on re-execution (no RNG anywhere).
    assert run() == approx


def test_knn_topk_shape_and_selfexclusion(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    res = knn.cosine_topk(emb, emb.filter(F.col("vec_id") < 4), k=5)
    rows = res.collect()
    assert len(rows) == 4 * 5
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    assert all(-1.0 <= r["cosine_sim"] <= 1.0001 for r in rows)


def test_centroids_shape(spark):
    emb = load_table(spark, SF_ORACLE, "embeddings")
    cent = knn.label_centroids(emb)
    n_labels = emb.select("label").distinct().count()
    dim = len(emb.select("embedding").first()[0])
    assert cent.count() == n_labels * dim


def test_nsw_graph_search_recall_floors(spark):
    """Graph ANN tier: beam search over the stored NSW graph holds
    recall floors vs the exact baseline (measured 0.975 mean / 0.80 min
    per-query at BOTH SFs — BENCH_sf1.md round-9 section), and the beam
    is deterministic (two runs, identical rows)."""
    from newsflow.sim.nsw import (
        _index_units,
        _query_units,
        nsw_ann_recall_eval,
        nsw_graph_edges_df,
        nsw_search_df,
    )
    from tests.conftest import SF_ORACLE

    rows = nsw_ann_recall_eval(spark, SF_ORACLE).collect()
    assert len(rows) == 8
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    assert mean >= 0.9, rows
    assert all(r.recall_at_k >= 0.6 for r in rows), rows

    units = _index_units(spark, SF_ORACLE).localCheckpoint(eager=True)
    edges = nsw_graph_edges_df(units).localCheckpoint(eager=True)
    queries = _query_units(spark, SF_ORACLE)
    key = lambda r: (r.query_id, r.rank, r.node, r.sim)  # noqa: E731
    one = sorted(map(key, nsw_search_df(units, edges, queries).collect()))
    two = sorted(map(key, nsw_search_df(units, edges, queries).collect()))
    assert one == two


def test_nsw_incremental_insert_floors_and_invariants(spark):
    """Graph append path: recall floors hold on the grown graph; the
    eval is non-vacuous (inserted nodes enter the true top-5); edges of
    nodes NOT touched by the insert are byte-identical; degree stays
    bounded at M."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from newsflow.functions.scalars import dround
    from newsflow.sim.knn import dot_expr
    from newsflow.sim.nsw import (
        GRAPH_M,
        NSW_EF_CONSTRUCTION,
        NSW_HOPS_CONSTRUCTION,
        NSW_INSERT_HI,
        NSW_INSERT_LO,
        _index_units,
        _query_units,
        nsw_graph_edges_df,
        nsw_incremental_insert_eval,
        nsw_insert_batch,
    )
    from newsflow.sim.pq import _unit
    from newsflow.tables import load_table, spread
    from tests.conftest import SF_ORACLE

    rows = nsw_incremental_insert_eval(spark, SF_ORACLE).collect()
    assert len(rows) == 8
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    assert mean >= 0.9, rows
    assert all(r.recall_at_k >= 0.6 for r in rows), rows

    emb = spread(load_table(spark, SF_ORACLE, "embeddings"))
    units = _index_units(spark, SF_ORACLE).localCheckpoint(eager=True)
    batch = _unit(
        emb.filter(
            (F.col("vec_id") >= NSW_INSERT_LO)
            & (F.col("vec_id") < NSW_INSERT_HI)
        ),
        "vec_id",
    ).localCheckpoint(eager=True)
    edges0 = nsw_graph_edges_df(units).localCheckpoint(eager=True)
    edges1 = nsw_insert_batch(
        units, edges0, batch,
        ef=NSW_EF_CONSTRUCTION, hops=NSW_HOPS_CONSTRUCTION,
    ).localCheckpoint(eager=True)

    # Non-vacuous: at least one inserted node is a TRUE top-5 neighbor
    # of some query (measured 5 at sf0.01 / 2 at sf0.1).
    allu = units.unionByName(batch)
    q = F.broadcast(
        _query_units(spark, SF_ORACLE).select(
            "query_id", F.col("u").alias("qu")
        )
    )
    exact = (
        allu.select(F.col("vec_id").alias("node"), "u")
        .crossJoin(q)
        .select(
            "query_id", "node",
            dround(dot_expr(F.col("qu"), F.col("u")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("node")
    )
    batch_in_top5 = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") <= 5) & (F.col("node") >= NSW_INSERT_LO)
        )
        .count()
    )
    assert batch_in_top5 > 0

    # Untouched srcs keep identical edge rows; every src stays <= M.
    touched = edges1.join(edges0, ["src", "dst", "cosine_sim"], "left_anti")
    touched_srcs = {r.src for r in touched.select("src").distinct().collect()}
    # Every inserted node acquired forward edges.
    assert set(range(NSW_INSERT_LO, NSW_INSERT_HI)) <= touched_srcs
    untouched0 = edges0.join(
        spark.createDataFrame(
            [(s,) for s in sorted(touched_srcs)], "src long"
        ),
        "src",
        "left_anti",
    )
    untouched1 = edges1.join(
        spark.createDataFrame(
            [(s,) for s in sorted(touched_srcs)], "src long"
        ),
        "src",
        "left_anti",
    )
    key = lambda r: (r.src, r.dst, r.cosine_sim)  # noqa: E731
    assert sorted(map(key, untouched0.collect())) == sorted(
        map(key, untouched1.collect())
    )
    max_deg = (
        edges1.groupBy("src").count().agg(F.max("count")).first()[0]
    )
    assert max_deg <= GRAPH_M


def test_nsw_takedown_zero_trace_and_recall(spark):
    """Graph takedown: after deleting 10 indexed nodes, (a) no edge
    touches a deleted id, (b) degree stays <= M, (c) bridge repair
    keeps search recall over the SURVIVOR set at the tier's floors,
    (d) srcs not adjacent to any deleted node keep identical rows."""
    import pyspark.sql.functions as F

    from newsflow.sim.nsw import (
        GRAPH_M,
        _index_units,
        _query_units,
        _recall_frame,
        nsw_graph_edges_df,
        nsw_search_df,
        nsw_takedown_edges,
    )
    from tests.conftest import SF_ORACLE

    units = _index_units(spark, SF_ORACLE).localCheckpoint(eager=True)
    edges0 = nsw_graph_edges_df(units).localCheckpoint(eager=True)
    del_ids = [i * 40 for i in range(10)]  # 0, 40, ..., 360
    dels = spark.createDataFrame([(d,) for d in del_ids], "vec_id long")
    survivors = units.filter(~F.col("vec_id").isin(del_ids)).localCheckpoint(
        eager=True
    )
    edges1 = nsw_takedown_edges(edges0, dels, survivors).localCheckpoint(
        eager=True
    )
    # (a) zero trace on both columns
    assert (
        edges1.filter(
            F.col("src").isin(del_ids) | F.col("dst").isin(del_ids)
        ).count()
        == 0
    )
    # (b) degree bound
    assert (
        edges1.groupBy("src").count().agg(F.max("count")).first()[0]
        <= GRAPH_M
    )
    # (d) srcs untouched by the deletion keep identical rows
    adj = {
        r.src
        for r in edges0.filter(F.col("dst").isin(del_ids))
        .select("src")
        .distinct()
        .collect()
    } | set(del_ids)
    key = lambda r: (r.src, r.dst, r.cosine_sim)  # noqa: E731
    k0 = sorted(
        map(key, edges0.filter(~F.col("src").isin(sorted(adj))).collect())
    )
    k1 = sorted(
        map(key, edges1.filter(~F.col("src").isin(sorted(adj))).collect())
    )
    assert k0 == k1
    # (c) recall over survivors still holds the tier floors
    queries = _query_units(spark, SF_ORACLE)
    beam = nsw_search_df(survivors, edges1, queries).filter(
        F.col("rank") <= 5
    )
    rows = _recall_frame(survivors, beam, queries).collect()
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    assert mean >= 0.9, rows
    assert all(r.recall_at_k >= 0.6 for r in rows), rows


def test_opq_allocation_invariants_and_recall_floors(spark):
    """OPQ tier gates: (a) the learned permutation is a bijection over
    all dims (i.e. a genuine orthogonal rotation), (b) the snake
    allocation balances per-subspace energy at least as well as plain
    PQ's contiguous slices, (c) retrieval through the permuted-basis
    quantizer holds the shared ANN recall floors."""
    from newsflow.sim.opq import (
        N_DIMS,
        PQ_DSUB,
        PQ_SUBS,
        dim_energy,
        snake_allocation,
    )
    from newsflow.sim.pq import _unit
    from newsflow.sim.queries import (
        KNN_MEAN_RECALL_FLOOR,
        KNN_QUERY_RECALL_FLOOR,
        knn_opq_recall_eval,
        recall_floor_violations,
    )
    from newsflow.tables import load_table, spread
    from tests.conftest import SF_ORACLE

    emb = spread(load_table(spark, SF_ORACLE, "embeddings"))
    energies = [
        (int(r.odim), float(r.energy))
        for r in dim_energy(_unit(emb, "vec_id")).collect()
    ]
    perm = snake_allocation(energies)
    assert sorted(perm) == list(range(N_DIMS))

    e = dict(energies)

    def energy_spread(groups):
        sums = [sum(e[d] for d in g) for g in groups]
        return max(sums) - min(sums)

    snake = [perm[s * PQ_DSUB : (s + 1) * PQ_DSUB] for s in range(PQ_SUBS)]
    contiguous = [
        list(range(s * PQ_DSUB, (s + 1) * PQ_DSUB)) for s in range(PQ_SUBS)
    ]
    assert energy_spread(snake) <= energy_spread(contiguous) + 1e-9

    assert recall_floor_violations(
        knn_opq_recall_eval(spark, SF_ORACLE),
        KNN_MEAN_RECALL_FLOOR,
        KNN_QUERY_RECALL_FLOOR,
    ) == []


def test_nsw_takedown_update_missing_path_noop(spark, tmp_path):
    """A takedown against a not-yet-built graph is a keyed no-op (the
    audit keys must match the built-path return — corpus_takedown reads
    them unconditionally)."""
    from newsflow.sim.nsw import nsw_takedown_update

    dels = spark.createDataFrame([(1,)], "vec_id long")
    out = nsw_takedown_update(spark, str(tmp_path / "absent"), dels)
    assert out == {"edges_removed_net": 0, "inserted": 0}


def test_hybrid_pq_sq8_refine_exact_oracle_and_floors(spark, duck_oracle):
    """Ninth ANN family (PQ/ADC coarse → SQ8 refine → exact top-k):
    Spark-vs-DuckDB EXACT parity via the composed oracle — the same
    comparison the driver runs, asserted locally because the oracle is
    deliberately unregistered this round (window budget; see
    sim/hybrid.py) — plus the shared recall floors and the refine
    monotonicity claim (the hybrid's recall is >= the plain PQ tier's
    on this corpus, since the SQ8 stage re-scores a 3x wider pool)."""
    import pyspark.sql.functions as F

    from newsflow.sim import knn
    from newsflow.sim.hybrid import (
        knn_cosine_pq_sq8_refine,
        pq_sq8_refine_oracle_sql,
        pq_sq8_refine_topk,
    )
    from newsflow.sim.pq import pq_topk
    from newsflow.tables import load_table, spread
    from tests.conftest import SF_ORACLE
    from tests.oracle_utils import assert_parity

    got = knn_cosine_pq_sq8_refine(spark, SF_ORACLE)
    assert_parity(
        got, pq_sq8_refine_oracle_sql(), duck_oracle,
        "knn_cosine_pq_sq8_refine",
    )

    emb = spread(load_table(spark, SF_ORACLE, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn.cosine_topk(emb, queries, k=5).collect()
    }

    def recalls(df):
        hits = {
            (r.query_id, r.neighbor_id) for r in df.collect()
        } & exact
        per_q = {}
        for q, _ in exact:
            per_q[q] = sum(1 for (a, _b) in hits if a == q) / 5
        return per_q

    hyb = recalls(pq_sq8_refine_topk(emb, queries, k=5))
    assert sum(hyb.values()) / len(hyb) >= 0.9, hyb
    assert all(v >= 0.6 for v in hyb.values()), hyb
    pq = recalls(pq_topk(emb, queries, k=5))
    assert sum(hyb.values()) >= sum(pq.values()), (hyb, pq)


def test_nsw_recall_evals_match_composed_oracles(spark, duck_oracle):
    """Both NSW recall EVALS match their composed DuckDB twins exactly
    (beam_cte_chain / insert_wave_ctes + the _recall_frame tail) — the
    driver comparison run locally, because the oracles are deliberately
    unregistered this round (window budget; see sim/nsw.py). With this,
    every ANN family's retrieval AND evaluation surface is exact."""
    from newsflow.sim.nsw import (
        nsw_ann_recall_eval,
        nsw_incremental_insert_eval,
        nsw_insert_eval_oracle_sql,
        nsw_recall_eval_oracle_sql,
    )
    from tests.conftest import SF_ORACLE
    from tests.oracle_utils import assert_parity

    assert_parity(
        nsw_ann_recall_eval(spark, SF_ORACLE),
        nsw_recall_eval_oracle_sql(),
        duck_oracle,
        "nsw_ann_recall_eval",
    )
    assert_parity(
        nsw_incremental_insert_eval(spark, SF_ORACLE),
        nsw_insert_eval_oracle_sql(),
        duck_oracle,
        "nsw_incremental_insert_eval",
    )


def test_nsw_ivf_build_recall_floors(spark):
    """The IVF-pruned graph build (the at-scale construction path):
    edge recall vs the exact all-pairs build holds a floor, degree
    stays bounded at M, the node set is complete, and beam SEARCH over
    the approx graph holds the tier's shared recall floors."""
    import pyspark.sql.functions as F

    from newsflow.sim.nsw import (
        GRAPH_M,
        _index_units,
        _query_units,
        _recall_frame,
        nsw_graph_edges_df,
        nsw_graph_edges_ivf,
        nsw_search_df,
    )
    from tests.conftest import SF_ORACLE

    units = _index_units(spark, SF_ORACLE).localCheckpoint(eager=True)
    exact = nsw_graph_edges_df(units).localCheckpoint(eager=True)
    approx = nsw_graph_edges_ivf(units).localCheckpoint(eager=True)

    deg = approx.groupBy("src").agg(F.count("*").alias("d"))
    assert deg.agg(F.max("d")).first()[0] <= GRAPH_M
    n_nodes = units.count()
    assert approx.select("src").distinct().count() == n_nodes

    e_exact = {(r.src, r.dst) for r in exact.collect()}
    e_approx = {(r.src, r.dst) for r in approx.collect()}
    edge_recall = len(e_exact & e_approx) / len(e_exact)
    assert edge_recall >= 0.5, edge_recall  # probe=2 of ~10 cells
    # Every emitted edge scores with the exact rounded sim — the
    # approximation only omits neighbors, never fabricates scores.
    joined = approx.join(
        exact.select(
            F.col("src"), F.col("dst"),
            F.col("cosine_sim").alias("es"),
        ),
        ["src", "dst"],
    )
    assert joined.filter(F.col("cosine_sim") != F.col("es")).count() == 0

    queries = _query_units(spark, SF_ORACLE)
    beam = nsw_search_df(units, approx, queries).filter(
        F.col("rank") <= 5
    )
    rows = _recall_frame(units, beam, queries).collect()
    assert len(rows) == 8
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    assert mean >= 0.85, rows
    assert all(r.recall_at_k >= 0.6 for r in rows), rows


def test_nsw_pinned_entries_from_ivf_build(spark):
    """with_entries=True returns one guaranteed-reachable entry per
    coarse cell (the stored-deployment seeding); searching via
    entry_ids holds the tier's floors at check SF, and the entry list
    is exactly the per-cell min ids."""
    import pyspark.sql.functions as F

    from newsflow.sim.nsw import (
        _index_units,
        _query_units,
        _recall_frame,
        nsw_graph_edges_ivf,
        nsw_search_df,
    )
    from tests.conftest import SF_ORACLE

    units = _index_units(spark, SF_ORACLE).localCheckpoint(eager=True)
    edges, entries = nsw_graph_edges_ivf(units, with_entries=True)
    edges = edges.localCheckpoint(eager=True)
    entries = entries.localCheckpoint(eager=True)
    n_entries = entries.count()
    assert 4 <= n_entries <= 20  # one per cell (sqrt(400)/2 = 10 cells)
    assert (
        entries.join(
            units.select("vec_id"), "vec_id", "left_anti"
        ).count()
        == 0
    )
    queries = _query_units(spark, SF_ORACLE)
    beam = nsw_search_df(units, edges, queries, entry_ids=entries).filter(
        F.col("rank") <= 5
    )
    rows = _recall_frame(units, beam, queries).collect()
    assert len(rows) == 8
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    assert mean >= 0.85, rows
    assert all(r.recall_at_k >= 0.6 for r in rows), rows
