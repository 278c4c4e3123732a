"""The session-scoped artifact cache (newsflow/artifacts.py) and the IVF
index it holds: a cached index answers exactly like a fresh one, the
quantizer is fitted once per corpus, and a changed file, a cleared cache
or a stopped application each lead to the right rebuild or drop."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from newsflow import artifacts
from newsflow.registry import all_specs
from newsflow.sim import ivf
from newsflow.sim import queries as simq
from newsflow.tables import load_table, spread
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import assert_parity

IVF_QUERIES = (
    "knn_cosine_ivf_native",
    "knn_cosine_filtered",
    "knn_ivf_recall_eval",
    "knn_filtered_recall_eval",
)


@pytest.fixture
def sf_copy(tmp_path):
    """A private sf dir (embeddings + documents), so no other test's
    cache entry can serve it."""
    for t in ("embeddings", "documents"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    return str(tmp_path)


@pytest.fixture
def fits(monkeypatch):
    """Counts deterministic-quantizer fits (index builds)."""
    calls = []
    real = ivf.kmeans_fit

    def counting(embeddings):
        calls.append(1)
        return real(embeddings)

    monkeypatch.setattr(ivf, "kmeans_fit", counting)
    return calls


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cached_index_answers_like_a_fresh_build(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter("vec_id < 8")
    docs = load_table(spark, SF_SMOKE, "documents")
    allowed = docs.filter(
        docs.source.isin(*simq.FILTERED_ANN_SOURCES)
    ).select("doc_id")
    simq.knn_cosine_ivf_native(spark, SF_SMOKE).collect()  # warm the cache
    fresh = ivf.build_native_ivf_index(spread(emb))
    try:
        assert _rows(simq.knn_cosine_ivf_native(spark, SF_SMOKE)) == _rows(
            ivf.native_ivf_search(fresh, queries, k=5, n_probe=2)
        )
        assert _rows(simq.knn_cosine_filtered(spark, SF_SMOKE)) == _rows(
            ivf.native_ivf_search(
                fresh, queries, k=5, n_probe=2, neighbor_filter=allowed
            )
        )
    finally:
        fresh.lists.unpersist()


def test_quantizer_fitted_once_per_corpus(spark, sf_copy, fits):
    for name in IVF_QUERIES:
        getattr(simq, name)(spark, sf_copy).collect()
    assert len(fits) == 1


def test_rewritten_embeddings_rebuild_and_match_oracle(
    spark, sf_copy, fits
):
    simq.knn_cosine_ivf_native(spark, sf_copy).collect()
    shutil.copy(
        f"{SF_ORACLE}/embeddings.parquet", f"{sf_copy}/embeddings.parquet"
    )
    df = simq.knn_cosine_ivf_native(spark, sf_copy)
    assert len(fits) == 2
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_copy}/embeddings.parquet')"
    )
    try:
        assert_parity(
            df, all_specs()["knn_cosine_ivf_native"].oracle, con,
            name="knn_cosine_ivf_native",
        )
    finally:
        con.close()


def test_clear_cache_rebuilds_the_index(spark, sf_copy, fits):
    before = _rows(simq.knn_cosine_ivf_native(spark, sf_copy))
    simq.knn_cosine_ivf_native(spark, sf_copy).collect()
    assert len(fits) == 1
    spark.catalog.clearCache()
    after = _rows(simq.knn_cosine_ivf_native(spark, sf_copy))
    assert len(fits) == 2
    assert after == before
    lists = ivf.cached_native_ivf_index(spark, sf_copy).lists
    assert lists.storageLevel.useMemory


def test_other_application_entries_dropped_untouched(spark, sf_copy):
    class DeadFrame:
        """A frame of a stopped context: any call into it fails."""

        def __getattr__(self, name):
            raise AssertionError(f"called {name} on a dead frame")

    slot = ("app-that-stopped", "ivf_native", sf_copy)
    artifacts._ENTRIES[slot] = artifacts._Entry((), None, (DeadFrame(),))
    ivf.cached_native_ivf_index(spark, sf_copy)
    assert slot not in artifacts._ENTRIES
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in artifacts._ENTRIES)


def test_warm_ivf_request_plans_without_jobs(spark):
    """The index build (seed collect, Lloyd recompute, lists count) must
    stay off the request path: building a warm request's DataFrame
    launches no Spark job, while running it does."""
    sc = spark.sparkContext
    simq.knn_cosine_ivf_native(spark, SF_SMOKE).collect()  # warm
    group = f"warm-ivf-plan-{os.getpid()}"
    sc.setJobGroup(group, "plan a warm IVF request")
    try:
        df = simq.knn_cosine_ivf_native(spark, SF_SMOKE)
        planned = list(sc.statusTracker().getJobIdsForGroup(group))
        df.collect()
        ran = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert planned == []
    assert ran  # the tracker sees this group's jobs at all


def test_rewritten_documents_refresh_shingles(spark, sf_copy):
    """The shingle projection's plan carries no data-dependent literal,
    so a stale persisted frame would match the rebuilt plan and be
    served in its place: the replaced entry must be unpersisted first."""
    import pyspark.sql.functions as F

    from newsflow.dedup.core import doc_shingle_arrays
    from newsflow.dedup.queries import _shared_shingle_arrays

    def n_shingles(arrays):
        return arrays.select(F.sum(F.size("shingles"))).first()[0]

    def want(sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return n_shingles(doc_shingle_arrays(docs, 3))

    assert n_shingles(_shared_shingle_arrays(spark, sf_copy)) == want(
        SF_SMOKE
    )
    shutil.copy(
        f"{SF_ORACLE}/documents.parquet", f"{sf_copy}/documents.parquet"
    )
    assert want(SF_ORACLE) != want(SF_SMOKE)
    assert n_shingles(_shared_shingle_arrays(spark, sf_copy)) == want(
        SF_ORACLE
    )


def test_concurrent_cold_requests_build_once(spark, sf_copy):
    """Concurrent first requests for one artifact wait for a single
    build instead of each running (and persisting) their own."""
    import sys
    import threading
    import time

    builds = []

    def build():
        builds.append(1)
        time.sleep(0.05)
        return object(), ()

    got = []

    def request():
        got.append(
            artifacts.get(spark, "stress", sf_copy, ("documents",), build)
        )

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=request) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(got) == 16 and len({id(v) for v in got}) == 1
