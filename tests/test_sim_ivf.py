"""IVF ANN correctness: exhaustive probing must equal brute force
exactly; partial probing must keep high recall on clustered data."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from newsflow.sim.ivf import build_ivf_index, ivf_search
from newsflow.sim.knn import cosine_topk
from newsflow.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 12)


@pytest.fixture(scope="module")
def mllib_index(emb):
    index = build_ivf_index(emb, n_cells=8)
    yield index
    index.lists.unpersist()


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_exhaustive_probe_equals_brute_force(emb, queries, mllib_index):
    exact = cosine_topk(emb, queries, k=5)
    ivf = ivf_search(mllib_index, queries, k=5, n_probe=8)
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in ivf.collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in exact.collect()
    }
    assert set(got) == set(want)
    for key, sim in want.items():
        assert got[key] == pytest.approx(sim, abs=1e-6)


def test_partial_probe_recall(emb, queries, mllib_index):
    exact_pairs = _pairs(cosine_topk(emb, queries, k=5))
    ivf_pairs = _pairs(ivf_search(mllib_index, queries, k=5, n_probe=4))
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    # Seeded KMeans → deterministic. Measured: 0.62/0.77/0.92 recall at
    # n_probe 2/4/6 of 8 cells on this fixture — half the cells keeps
    # ~3/4 of true neighbors at ~half the search cost.
    assert recall >= 0.7, f"IVF recall too low: {recall:.2f}"


def test_filtered_search_beats_post_filter_of_topk(spark):
    """VERDICT r12 Next #7's 'done' condition: pushing the filter below
    the probe returns the true top-k among qualifying vectors, while
    post-filtering the unfiltered top-k on the same corpus provably
    loses recall — fewer rows, and missing qualifying neighbors that
    rank below the unfiltered cut."""
    import pyspark.sql.functions as F2

    from newsflow.sim.ivf import build_native_ivf_index, native_ivf_search
    from newsflow.sim.queries import FILTERED_ANN_SOURCES
    from newsflow.tables import load_table, spread

    emb = spread(load_table(spark, SF_SMOKE, "embeddings"))
    docs = load_table(spark, SF_SMOKE, "documents")
    allowed = docs.filter(
        F2.col("source").isin(*FILTERED_ANN_SOURCES)
    ).select("doc_id")
    queries = emb.filter(F2.col("vec_id") < 8)

    index = build_native_ivf_index(emb)
    try:
        pushed = native_ivf_search(
            index, queries, k=5, n_probe=2, neighbor_filter=allowed
        ).collect()
        unfiltered = native_ivf_search(
            index, queries, k=5, n_probe=2
        ).collect()
    finally:
        index.lists.unpersist()

    allowed_ids = {r.doc_id for r in allowed.collect()}
    # Post-filter of the unfiltered top-5 (the trap).
    post = [r for r in unfiltered if r.neighbor_id in allowed_ids]

    # Soundness of the pushed form: every row qualifies.
    assert all(r.neighbor_id in allowed_ids for r in pushed)
    # The trap is real on this corpus: post-filtering loses rows...
    assert len(post) < len(pushed)
    # ...and specifically drops qualifying neighbors the pushed form
    # finds (ranked below the unfiltered cut).
    pushed_pairs = {(r.query_id, r.neighbor_id) for r in pushed}
    post_pairs = {(r.query_id, r.neighbor_id) for r in post}
    assert post_pairs < pushed_pairs
    # And the pushed form fills k wherever the probed cells hold at
    # least k qualifying vectors (here: every query).
    from collections import Counter

    per_q = Counter(r.query_id for r in pushed)
    assert set(per_q) == set(range(8)) and min(per_q.values()) == 5


def test_escalated_probes_recover_filtered_recall(spark):
    """VERDICT r13 Next #7: at 5% selectivity a fixed 2-probe filtered
    IVF starves (measured recall@5 0.55 at sf0.01); escalate_n_probe
    sizes the probe count from the selectivity estimate and must
    recover recall >= 0.9 against the filtered brute-force baseline."""
    from newsflow.sim.ivf import (
        build_native_ivf_index,
        escalate_n_probe,
        native_ivf_search,
    )
    from newsflow.sim.queries import FILTERED_EVAL_TIERS
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings").cache()
    docs = load_table(spark, SF_ORACLE, "documents")
    queries = emb.filter(F.col("vec_id") < 8)
    n_corpus = emb.count()

    label, srcs = FILTERED_EVAL_TIERS[-1]  # sel05, the worst tier
    assert label == "sel05"
    allowed = docs.filter(F.col("source").isin(*srcs)).select("doc_id")
    corpus = emb.join(
        allowed, emb["vec_id"] == allowed["doc_id"], "left_semi"
    )
    exact = _pairs(
        cosine_topk(corpus, queries, k=5).select(
            "query_id", "neighbor_id"
        )
    )

    index = build_native_ivf_index(emb)

    def recall(n_probe):
        got = _pairs(
            native_ivf_search(
                index, queries, k=5, n_probe=n_probe,
                neighbor_filter=allowed,
            )
        )
        return len(got & exact) / len(exact)

    sel = len(srcs) / 20.0  # 20 uniform sources
    escalated = escalate_n_probe(sel, n_corpus)
    assert escalated > 2  # the rule actually escalates at 5%
    try:
        base_recall = recall(2)
        esc_recall = recall(escalated)
    finally:
        index.lists.unpersist()
    assert base_recall < 0.8  # the starvation is real on this corpus
    assert esc_recall >= 0.9
    assert esc_recall > base_recall
