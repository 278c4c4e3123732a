"""Recall floors as GATES (VERDICT r4 #4): the LSH recall measurements
(`dedup_lsh_recall_eval`, `knn_lsh_recall_eval`) report index quality,
but a report nobody fails on is not a guardrail. These tests pin the
shipped configurations to explicit floors AND prove the gates have
teeth: a deliberately degraded banding / table configuration must trip
them. A parameter "optimization" that silently destroys recall now
turns the suite red instead of shipping."""

from __future__ import annotations

import pyspark.sql.functions as F

from newsflow.dedup.core import doc_shingle_arrays
from newsflow.dedup.queries import (
    LSH_RECALL_FLOOR,
    lsh_recall_floor_violations,
    minhash_recall_by_band,
)
from newsflow.sim import hyperplane
from newsflow.sim.queries import (
    IVFPQ_MEAN_RECALL_FLOOR,
    IVFPQ_QUERY_RECALL_FLOOR,
    KNN_MEAN_RECALL_FLOOR,
    KNN_QUERY_RECALL_FLOOR,
    recall_floor_violations,
)
from newsflow.tables import load_table, spread
from tests.conftest import SF_ORACLE

KNN_FLOORS = (KNN_MEAN_RECALL_FLOOR, KNN_QUERY_RECALL_FLOOR)
IVFPQ_FLOORS = (IVFPQ_MEAN_RECALL_FLOOR, IVFPQ_QUERY_RECALL_FLOOR)


def _arrays(spark):
    return doc_shingle_arrays(
        spread(load_table(spark, SF_ORACLE, "documents")), 3
    )


def test_lsh_default_banding_meets_recall_floor(spark):
    df = minhash_recall_by_band(_arrays(spark))
    rows = df.collect()
    assert rows, "no exact pairs at the check SF — gate is vacuous"
    assert not lsh_recall_floor_violations(df)
    # The shipped banding's actual measurement is 1.0 everywhere, well
    # clear of the floor — assert that headroom so a slow degradation
    # toward the floor is visible here before it trips the gate.
    assert all(r.recall == 1.0 for r in rows)


def test_lsh_degraded_banding_trips_gate(spark):
    # A single 16-row band (r=16, b=1): candidate probability is j^16 —
    # 0.44 even at j=0.95, and this corpus's near-dup pairs cluster in
    # the top band, so measured recall drops to ~0.83 (and 0 in band
    # 18). A catastrophic misconfiguration the floor gate MUST flag.
    df = minhash_recall_by_band(_arrays(spark), rows_per_band=16)
    violations = lsh_recall_floor_violations(df)
    assert violations, (
        "degraded banding (r=16, b=1) passed the recall floor "
        f"{LSH_RECALL_FLOOR} — the gate has no teeth"
    )


def _knn_recall_frame(spark):
    """A fresh build: a plan prepared by an earlier call would not see
    the hyperplane settings the degraded-config test patches."""
    from newsflow.registry import all_specs

    return all_specs()["knn_lsh_recall_eval"].build.__wrapped__(
        spark, SF_ORACLE
    )


def test_knn_default_config_meets_recall_floor(spark):
    assert not recall_floor_violations(_knn_recall_frame(spark), *KNN_FLOORS)


def test_knn_degraded_config_trips_gate(spark, monkeypatch):
    # 1 table x 16 bits: a single 65536-bucket table — collision
    # probability for even highly similar vectors collapses, recall
    # craters, and the floor gate must go red. The hyperplane module
    # reads N_TABLES/N_BITS at call time, so patching them genuinely
    # rebuilds the index shape (planes cache keys on n_planes).
    monkeypatch.setattr(hyperplane, "N_TABLES", 1)
    monkeypatch.setattr(hyperplane, "N_BITS", 16)
    violations = recall_floor_violations(
        _knn_recall_frame(spark), *KNN_FLOORS
    )
    assert violations, (
        "1-table/16-bit sign-LSH passed the recall floors — the gate "
        "has no teeth"
    )


def test_lsh_violation_rows_carry_band_detail(spark):
    """The gate's output is actionable: each violation row names the
    Jaccard band and the miss counts, so a trip localizes WHERE recall
    fell (banded LSH degrades threshold-first)."""
    df = minhash_recall_by_band(_arrays(spark), rows_per_band=16)
    for r in lsh_recall_floor_violations(df):
        assert 0 <= r.band20 <= 19
        assert r.n_lsh_hits <= r.n_exact_pairs
        assert r.recall < LSH_RECALL_FLOOR


def test_lsh_empty_recall_frame_is_a_violation(spark):
    """A misconfiguration that yields ZERO exact pairs (e.g. a threshold
    above every true Jaccard) must not pass the gate vacuously (ADVICE
    r5): an empty band table is itself flagged, mirroring the knn gate."""
    df = minhash_recall_by_band(_arrays(spark), threshold=1.01)
    assert df.count() == 0
    violations = lsh_recall_floor_violations(df)
    assert violations and "vacuous" in violations[0]


def test_ivf_native_recall_floor(spark):
    """The exactly-oracled IVF tier must hold recall@5 >= 0.85 vs the
    brute-force baseline at the check SF with its shipped 2-of-8-cells
    probing (measured: 0.9 at sf0.01, 1.0 at sf0.1). The oracle proves
    the index computes WHAT it claims; this pins that what it claims is
    GOOD ENOUGH to ship as the ANN tier."""
    from newsflow.registry import all_specs

    specs = all_specs()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in specs["knn_cosine_topk"].build(spark, SF_ORACLE).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in specs["knn_cosine_ivf_native"]
        .build(spark, SF_ORACLE)
        .collect()
    }
    assert exact, "empty exact baseline"
    assert len(exact & ivf) / len(exact) >= 0.85


def test_pq_recall_floor(spark):
    """The PQ/ADC tier at its shipped config (16 subspaces x 16
    codewords, top-64 re-rank) must hold the shared KNN floors vs the
    brute-force baseline (measured at sf0.01: mean 0.95, min 0.8)."""
    from newsflow.sim.queries import knn_pq_recall_eval

    assert (
        recall_floor_violations(
            knn_pq_recall_eval(spark, SF_ORACLE), *KNN_FLOORS
        )
        == []
    )


def test_pq_degraded_config_trips_floor(spark):
    """A deliberately degraded PQ config — no re-rank headroom (ADC
    top-5 taken directly, r=k) — must TURN THE GATE RED: the floor is a
    tripwire, not a formality (same red-on-misconfig proof as the LSH
    and KNN gates)."""
    from newsflow.sim.knn import cosine_topk, recall_at_k
    from newsflow.sim.pq import pq_topk

    emb = spread(load_table(spark, SF_ORACLE, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 8)
    recall = recall_at_k(
        cosine_topk(emb, queries, k=5), pq_topk(emb, queries, k=5, r=5)
    )
    assert recall_floor_violations(recall, *KNN_FLOORS) != []


def test_ivfpq_recall_floor(spark):
    """The IVF-PQ tier at its shipped config (2/8 cells probed, 16x16
    residual codebooks, top-32 re-rank) must hold its own floors
    (mean >= 0.85, per-query >= 0.5; measured 0.9 / 0.6 at sf0.01)."""
    from newsflow.sim.queries import knn_ivfpq_recall_eval

    assert (
        recall_floor_violations(
            knn_ivfpq_recall_eval(spark, SF_ORACLE), *IVFPQ_FLOORS
        )
        == []
    )


def test_ivfpq_degraded_config_trips_floor(spark):
    """Single-cell probing with no re-rank headroom (n_probe=1, r=k)
    must TURN THE GATE RED — the tier's floors are tripwires."""
    from newsflow.sim.ivfpq import ivfpq_topk
    from newsflow.sim.knn import cosine_topk, recall_at_k

    emb = spread(load_table(spark, SF_ORACLE, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 8)
    recall = recall_at_k(
        cosine_topk(emb, queries, k=5),
        ivfpq_topk(emb, queries, k=5, n_probe=1, r=5),
    )
    assert recall_floor_violations(recall, *IVFPQ_FLOORS) != []


def test_sq8_recall_floor(spark):
    """The SQ8 tier (int8 scoring + exact pool re-rank) must hold the
    shared KNN floors vs the brute-force baseline (measured at sf0.01:
    recall@5 = 1.0 for every query — per-dim int8 loses far less
    ranking signal than 4-bit PQ codes, which is why SQ8 is the
    highest-fidelity compressed tier)."""
    from newsflow.sim.queries import knn_sq8_recall_eval

    assert (
        recall_floor_violations(
            knn_sq8_recall_eval(spark, SF_ORACLE), *KNN_FLOORS
        )
        == []
    )


def test_sq8_degraded_pool_trips_floor(spark):
    """Red-on-misconfig proof for the SQ8 gate: shrinking the re-rank
    pool to k (no headroom — re-rank can only reorder the int8 top-5,
    never recover a missed neighbor) must break perfect recall... and
    if the int8 top-5 were already perfect the gate could legitimately
    stay green, so assert the stronger property: pool=k recall is <=
    the shipped pool's recall AND the shipped config is exactly 1.0."""
    import pyspark.sql.functions as F

    from newsflow.sim import knn
    from newsflow.sim.sq8 import sq8_topk
    from newsflow.tables import load_table, spread

    emb = spread(load_table(spark, SF_ORACLE, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn.cosine_topk(emb, queries, k=5).collect()
    }
    shipped = {
        (r.query_id, r.neighbor_id)
        for r in sq8_topk(emb, queries, k=5).collect()
    }
    degraded = {
        (r.query_id, r.neighbor_id)
        for r in sq8_topk(emb, queries, k=5, pool=5).collect()
    }
    assert len(shipped & exact) == len(exact)  # shipped = perfect recall
    assert len(degraded & exact) <= len(shipped & exact)
