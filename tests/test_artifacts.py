"""The session-scoped artifact cache (newsflow/artifacts.py) and what it
holds — the IVF index, the gdelt core, the oriented org edges, the
curation keeper table and the DSIR weights: a cached artifact answers
exactly like a fresh build, it is built once per corpus, and a changed
file, a cleared cache or a stopped application each lead to the right
rebuild or drop."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from newsflow import artifacts, curation, graph, selection
from newsflow.etl import queries as etlq
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


def _warm_build_jobs(spark, name):
    """Job ids run while building a warm ``name`` DataFrame, and while
    building and then collecting it (job group + status tracker). The
    builder itself is measured, not a plan prepared from it."""
    build = all_specs()[name].build.__wrapped__
    build(spark, SF_SMOKE).collect()  # warm
    sc = spark.sparkContext
    group = f"warm-plan-{name}-{os.getpid()}"
    sc.setJobGroup(group, f"plan a warm {name}")
    try:
        df = build(spark, SF_SMOKE)
        planned = list(sc.statusTracker().getJobIdsForGroup(group))
        df.collect()
        ran = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return planned, ran


def test_warm_ivf_request_plans_without_jobs(spark):
    """The index build (seed collect, Lloyd recompute, lists count) must
    stay off the request path: building a warm request's DataFrame
    launches no Spark job, while running it does."""
    planned, ran = _warm_build_jobs(spark, "knn_cosine_ivf_native")
    assert planned == []
    assert ran  # the tracker sees this group's jobs at all


@pytest.mark.parametrize("name", ("gdelt_core_etl", "org_triangle_counts"))
def test_warm_core_and_triangle_builds_run_no_jobs(spark, name):
    """The gdelt core and the oriented org edges are built once per
    corpus, so a warm build runs no job."""
    planned, ran = _warm_build_jobs(spark, name)
    assert planned == []
    assert ran


@pytest.mark.parametrize(
    "name", ("corpus_pipeline_e2e", "corpus_curation_kept")
)
def test_warm_funnel_builds_run_no_jobs(spark, name):
    """The keeper table and the DSIR weights are built once per corpus,
    and no call materializes an intermediate of its own while it is
    being built, so a warm build runs no job."""
    planned, ran = _warm_build_jobs(spark, name)
    assert planned == []
    assert ran


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_cached_core_and_edges_match_a_fresh_build(spark, sf_copy):
    """The cached artifacts hold the rows a fresh build computes (the
    fresh one reads a copy of the same file under another path, so no
    cache entry can stand in for it), and neither is a checkpoint."""
    core = etlq._core_df(spark, SF_SMOKE)
    edges = graph._org_edges(spark, SF_SMOKE)
    graph.count_triangles(edges).collect()  # fill both caches
    fresh_core = etlq.build_gdelt_core(spark, sf_copy)
    fresh_edges = graph.oriented_edges(graph._co_edges(fresh_core))
    assert _rows(core) == _rows(fresh_core)
    assert _rows(edges) == _rows(fresh_edges)
    assert edges.storageLevel.useMemory and core.storageLevel.useMemory
    for frame in (core, edges):
        assert "CheckpointRDD" not in _lineage(frame)


def test_rewritten_documents_rebuild_core_and_edges(spark, sf_copy):
    specs = all_specs()
    names = ("gdelt_core_etl", "org_triangle_counts")
    before = {n: _rows(specs[n].build(spark, sf_copy)) for n in names}
    shutil.copy(
        f"{SF_ORACLE}/documents.parquet", f"{sf_copy}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_copy}/documents.parquet')"
    )
    try:
        for n in names:
            df = specs[n].build(spark, sf_copy)
            assert _rows(df) != before[n], n
            assert_parity(df, specs[n].oracle, con, name=n)
    finally:
        con.close()


def test_rewritten_part_file_of_directory_table_rebuilds(spark, tmp_path):
    """A Spark-written table is a directory; rewriting one of its part
    files in place leaves the directory's own size and mtime alone, and
    must still rebuild the core."""
    table = tmp_path / "documents.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    shutil.copyfile(f"{SF_SMOKE}/documents.parquet", part)
    sf_dir = str(tmp_path)
    spec = all_specs()["gdelt_core_etl"]
    before = _rows(spec.build(spark, sf_dir))
    shutil.copyfile(f"{SF_ORACLE}/documents.parquet", part)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{part}')"
    )
    try:
        df = spec.build(spark, sf_dir)
        assert _rows(df) != before
        assert_parity(df, spec.oracle, con, name=spec.name)
    finally:
        con.close()


def test_clear_cache_rebuilds_core_and_edges(spark, sf_copy, monkeypatch):
    builds = []
    real_core, real_edges = etlq.build_gdelt_core, graph.oriented_edges

    def core(spark, sf_dir):
        builds.append("core")
        return real_core(spark, sf_dir)

    def edges(co_edges):
        builds.append("edges")
        return real_edges(co_edges)

    monkeypatch.setattr(etlq, "build_gdelt_core", core)
    monkeypatch.setattr(graph, "oriented_edges", edges)
    before = _rows(graph.org_triangle_counts(spark, sf_copy))
    graph.org_triangle_counts(spark, sf_copy).collect()
    assert sorted(builds) == ["core", "edges"]
    spark.catalog.clearCache()
    after = _rows(graph.org_triangle_counts(spark, sf_copy))
    assert sorted(builds) == ["core", "core", "edges", "edges"]
    assert after == before


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


def test_cached_keepers_and_weights_match_a_fresh_build(spark, sf_copy):
    """The cached keeper table and DSIR weights hold the rows a fresh
    build over a copy of the file computes, and neither is a
    checkpoint."""
    curated = curation.cached_curated(spark, SF_SMOKE)
    weights = selection.cached_dsir_weights(spark, SF_SMOKE)
    docs = load_table(spark, sf_copy, "documents")
    fresh_curated = curation.build_curated(docs)
    fresh_weights = selection._dsir_weights(spread(docs))
    assert _rows(curated) == _rows(fresh_curated)
    assert _rows(weights) == _rows(fresh_weights)
    assert curated.storageLevel.useMemory and weights.storageLevel.useMemory
    for frame in (curated, weights):
        assert "CheckpointRDD" not in _lineage(frame)


FUNNEL_QUERIES = (
    "corpus_pipeline_e2e",
    "corpus_curation_kept",
    "dsir_importance_weights",
)


def test_rewritten_documents_rebuild_keepers_and_weights(spark, sf_copy):
    specs = all_specs()
    before = {
        n: _rows(specs[n].build(spark, sf_copy)) for n in FUNNEL_QUERIES
    }
    shutil.copy(
        f"{SF_ORACLE}/documents.parquet", f"{sf_copy}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_copy}/documents.parquet')"
    )
    try:
        for n in FUNNEL_QUERIES:
            df = specs[n].build(spark, sf_copy)
            assert _rows(df) != before[n], n
            assert_parity(df, specs[n].oracle, con, name=n)
    finally:
        con.close()


def test_clear_cache_rebuilds_keepers_and_weights(
    spark, sf_copy, monkeypatch
):
    from newsflow.pipeline import corpus_pipeline_e2e

    builds = []
    real_curated = curation.build_curated
    real_weights = selection._dsir_weights

    def curated(docs):
        builds.append("curated")
        return real_curated(docs)

    def weights(docs):
        builds.append("weights")
        return real_weights(docs)

    monkeypatch.setattr(curation, "build_curated", curated)
    monkeypatch.setattr(selection, "_dsir_weights", weights)
    before = _rows(corpus_pipeline_e2e(spark, sf_copy))
    corpus_pipeline_e2e(spark, sf_copy).collect()
    assert sorted(builds) == ["curated", "weights"]
    spark.catalog.clearCache()
    after = _rows(corpus_pipeline_e2e(spark, sf_copy))
    assert sorted(builds) == ["curated", "curated", "weights", "weights"]
    assert after == before
