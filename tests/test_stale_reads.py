"""A table file rewritten in place is read anew: no query may serve the
old file's data from a frame it persisted on an earlier call. Spark's
cache manager substitutes a persisted plan for any later plan that
matches it, and a rewritten file under the same path plans the same way,
so a query-scoped ``.cache()`` outlives its call and answers the next
one. Each case copies sf0.001 to a private directory and runs the query
twice, so that its plan is kept (`newsflow.artifacts.prepared`). It then
copies sf0.01's table files over the files in place, and checks the
third call against the DuckDB oracle on the rewritten files."""

from __future__ import annotations

import shutil

import pytest

from newsflow.registry import all_specs
from newsflow.tables import TABLES
from tests.conftest import SF_ORACLE, SF_SMOKE, make_duck
from tests.oracle_utils import assert_parity

STALE_READ_QUERIES = (
    "minhash_near_dup_pairs",
    "minhash_near_dup_pairs_cms_planned",
    "minhash_near_dup_pairs_mllib",
    "near_dup_clusters_lsh",
    "streaming_takedown_exec",
    "minhash_near_dup_pairs_cms_streamed",
    "mmr_diversified_topk",
)


@pytest.mark.parametrize("name", STALE_READ_QUERIES)
def test_query_reads_a_rewritten_table(spark, tmp_path, name):
    spec = all_specs()[name]
    for t in TABLES:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    sf_dir = str(tmp_path)
    spec.build(spark, sf_dir).collect()
    spec.build(spark, sf_dir).collect()
    for t in TABLES:
        shutil.copy(f"{SF_ORACLE}/{t}.parquet", tmp_path / f"{t}.parquet")
    con = make_duck(sf_dir)
    try:
        assert_parity(spec.build(spark, sf_dir), spec.oracle, con, name=name)
    finally:
        con.close()
