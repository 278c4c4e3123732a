"""Prepared request plans (`newsflow.artifacts.prepared`): a registry
call on a corpus after its first job-free build runs a fresh frame over
the plan kept for it. It must run every Spark job a fresh build runs and
return the same rows; a rewritten table file, ``clearCache()`` or a
rebuilt artifact must each lead to a fresh build; and a build that runs
jobs (a write, a stream) must run on every call."""

from __future__ import annotations

import itertools
import shutil

import duckdb
import pytest

from newsflow import artifacts
from newsflow.etl import queries as etlq
from newsflow.registry import all_specs
from newsflow.tables import TABLES, logging_reads
from tests.conftest import SF_ORACLE, SF_SMOKE, make_duck
from tests.oracle_utils import assert_parity

# The batch and request calls of the benchmark's two workloads
# (perfbench/workloads.py: news_batch, then curate_search).
BENCHMARK_CALLS = (
    "gdelt_core_etl",
    "registrable_domain_extract",
    "doc_period_classify",
    "modality_counts",
    "bigram_topk",
    "semicolon_split_stats",
    "org_triangle_counts",
    "pricing_summary",
    "revenue_by_status",
    "corpus_pipeline_e2e",
    "bloom_dedup_prefilter",
    "knn_cosine_ivf_native",
    "knn_cosine_filtered",
    "bm25_topk",
)

_GROUPS = itertools.count()


def _run(spark, call, sf_dir):
    """(sorted rows, Spark jobs run, whether the builder ran) for one
    call and its collect, counted under a job group of the test's own."""
    sc = spark.sparkContext
    group = f"test-prepared-{next(_GROUPS)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        with logging_reads() as log:
            df = call(spark, sf_dir)
        rows = sorted(tuple(r) for r in df.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return rows, jobs, bool(log)


def _copy_tables(src: str, dst) -> None:
    for t in TABLES:
        shutil.copy(f"{src}/{t}.parquet", dst / f"{t}.parquet")


def _counted(name: str, calls: list):
    """A prepared call of ``name``'s builder that counts builder runs."""
    raw = all_specs()[name].build.__wrapped__

    def build(spark, sf_dir):
        calls.append(1)
        return raw(spark, sf_dir)

    return artifacts.prepared(f"test/{name}", build)


@pytest.mark.parametrize("name", BENCHMARK_CALLS)
def test_prepared_call_runs_the_jobs_of_a_fresh_build(spark, name):
    spec = all_specs()[name]
    spec.build(spark, SF_ORACLE).collect()
    spec.build(spark, SF_ORACLE).collect()
    rows, jobs, built = _run(spark, spec.build, SF_ORACLE)
    assert not built, f"{name}: the third call built its plan again"
    fresh_rows, fresh_jobs, _ = _run(
        spark, spec.build.__wrapped__, SF_ORACLE
    )
    assert jobs == fresh_jobs, name
    assert rows == fresh_rows, name


def test_rewritten_tables_are_read_by_prepared_calls(spark, tmp_path):
    _copy_tables(SF_SMOKE, tmp_path)
    sf_dir = str(tmp_path)
    specs = all_specs()
    for name in BENCHMARK_CALLS:
        specs[name].build(spark, sf_dir).collect()
        specs[name].build(spark, sf_dir).collect()
    _copy_tables(SF_ORACLE, tmp_path)
    con = make_duck(sf_dir)
    try:
        for name in BENCHMARK_CALLS:
            spec = specs[name]
            assert_parity(spec.build(spark, sf_dir), spec.oracle, con, name)
    finally:
        con.close()


def test_rewritten_part_file_of_directory_table_is_read(spark, tmp_path):
    """A Spark-written table is a directory of part files, and a part
    file rewritten in place leaves the directory's own size and mtime
    alone. One plan reads the table itself, the other an artifact built
    from it."""
    table = tmp_path / "documents.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    shutil.copyfile(f"{SF_SMOKE}/documents.parquet", part)
    sf_dir = str(tmp_path)
    specs = [all_specs()[n] for n in ("doc_period_classify", "gdelt_core_etl")]
    for spec in specs:
        spec.build(spark, sf_dir).collect()
        spec.build(spark, sf_dir).collect()
    shutil.copyfile(f"{SF_ORACLE}/documents.parquet", part)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{part}')"
    )
    try:
        for spec in specs:
            df = spec.build(spark, sf_dir)
            assert_parity(df, spec.oracle, con, spec.name)
    finally:
        con.close()


@pytest.fixture
def docs_copy(tmp_path):
    """A private sf dir, so no other test's cache entry can serve it."""
    shutil.copy(
        f"{SF_SMOKE}/documents.parquet", tmp_path / "documents.parquet"
    )
    return str(tmp_path)


def test_clear_cache_forces_a_fresh_build(spark, docs_copy):
    builds: list = []
    call = _counted("org_triangle_counts", builds)
    before = _run(spark, call, docs_copy)[0]  # builds the artifacts: jobs
    call(spark, docs_copy).collect()  # job-free: its plan is kept
    assert _run(spark, call, docs_copy)[2] is False
    assert len(builds) == 2
    spark.catalog.clearCache()
    rows, _, built = _run(spark, call, docs_copy)
    assert built and len(builds) == 3
    assert rows == before


def test_rebuilt_artifact_forces_a_fresh_build(spark, docs_copy):
    builds: list = []
    call = _counted("gdelt_core_etl", builds)
    call(spark, docs_copy).collect()
    call(spark, docs_copy).collect()
    before, _, built = _run(spark, call, docs_copy)
    assert not built and len(builds) == 2
    old = etlq._core_df(spark, docs_copy)
    old.unpersist()
    assert etlq._core_df(spark, docs_copy) is not old  # rebuilt
    rows, _, built = _run(spark, call, docs_copy)
    assert built and len(builds) == 3
    assert rows == before


def test_build_that_runs_jobs_runs_on_every_call(spark, tmp_path):
    """`corpus_takedown_audit` writes the takedown's output tables while
    it is built, so no plan of it is kept. The wrapper counts those jobs
    under a job group of its own, which it clears, and leaves the job
    description alone."""
    sc = spark.sparkContext
    _copy_tables(SF_SMOKE, tmp_path)
    builds: list = []
    call = _counted("corpus_takedown_audit", builds)
    sc.setLocalProperty("spark.job.description", "the caller's")
    try:
        for _ in range(3):
            call(spark, str(tmp_path)).collect()
        assert sc.getLocalProperty("spark.job.description") == "the caller's"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert len(builds) == 3
