"""A lost cached block recomputes from lineage instead of failing the
query. Each query is called twice, so its third DataFrame is a prepared
plan (`newsflow.artifacts.prepared`) over a warm cache; every cached RDD
block is then dropped (a lost executor's blocks), and the collected
result must still match the DuckDB oracle. Extend BLOCK_LOSS_QUERIES as
more queries stop materializing through ``localCheckpoint``."""

from __future__ import annotations

import pytest

from newsflow.registry import all_specs
from tests.conftest import SF_ORACLE, drop_cached_blocks
from tests.oracle_utils import assert_parity

BLOCK_LOSS_QUERIES = (
    "gdelt_core_etl",
    "gdelt_top_sources",
    "org_triangle_counts",
    "org_pagerank",
    "knn_cosine_ivf_native",
    "knn_cosine_filtered",
    "knn_filtered_recall_eval",
    "knn_ivf_recall_eval",
    "corpus_pipeline_e2e",
    "corpus_curation_kept",
    "dsir_importance_weights",
)


@pytest.mark.parametrize("name", BLOCK_LOSS_QUERIES)
def test_query_survives_lost_cached_blocks(spark, duck_oracle, name):
    spec = all_specs()[name]
    spec.build(spark, SF_ORACLE).collect()  # fill every cache it reads
    spec.build(spark, SF_ORACLE).collect()  # keep its plan
    df = spec.build(spark, SF_ORACLE)
    assert drop_cached_blocks(spark) > 0
    assert_parity(df, spec.oracle, duck_oracle, name=name)
