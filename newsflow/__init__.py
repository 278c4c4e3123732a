"""newsflow — a PySpark-native news-analytics engine.

A brand-new, idiomatic Spark engine (DataFrame / Spark SQL / MLlib /
Structured Streaming) with the same query and data-processing
capabilities as the reference project ``JuliaPabst/Big-Data-AI-News-Analysis``
(surveyed in ``SURVEY.md``), extended with the operators a large-scale
training-data pipeline needs: deduplication, similarity search,
text analysis, and streaming window aggregation.

Design principles (SURVEY.md §7):
  * DataFrame/SQL declarative plans — let Catalyst optimize.
  * No pandas in any data path; pandas only below the ``toPandas()``
    report boundary.
  * Built-in ``pyspark.sql.functions`` over UDFs; Arrow ``pandas_udf``
    only where no built-in exists.
  * Every operator ships with a DuckDB-oracle query (``newsflow.registry``)
    unless genuinely non-SQL-expressible.
"""

__version__ = "0.1.0"

from newsflow.session import get_spark  # noqa: F401
from newsflow.tables import load_table, load_all  # noqa: F401

# Headline operator surface (stable public API).
from newsflow.dedup.cluster import connected_components  # noqa: F401
from newsflow.dedup.embedding import (  # noqa: F401
    embedding_cosine_pairs,
    embedding_cosine_pairs_lsh,
)
from newsflow.dedup.minhash import (  # noqa: F401
    minhash_near_dup_pairs,
    native_minhash_near_dup_pairs,
)
from newsflow.ops.asof import asof_join  # noqa: F401
from newsflow.ops.rangejoin import range_join_binned  # noqa: F401
from newsflow.ops.scale import salted_join, write_bucketed  # noqa: F401
from newsflow.sim.ivf import build_ivf_index, ivf_search  # noqa: F401
from newsflow.sim.knn import cosine_topk  # noqa: F401
