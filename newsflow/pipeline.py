"""The composed full-funnel training-data pipeline as ONE query:
curate → DSIR-select → pack, over the corpus-level artifacts it shares
with the single-stage queries.

The per-query benchmark measures operators in isolation; a production
pretraining pipeline runs them as one composition. This module is that
composition plus the oracled stage-count funnel that proves each
stage's yield:

    0_total           raw corpus
    1_quality_lang    quality ≥ threshold AND lang gate     (curation)
    2_exact_dedup     min-doc_id keeper per distinct text   (curation)
    3_near_dup        MinHash near-dup losers removed       (curation)
    4_dsir_selected   top-N by DSIR importance weight       (selection)
    5_packed          fixed-SEQ_LEN sequence count spanned  (packing)

Materialization rule. Everything a call reads that depends only on the
corpus is a corpus-level artifact, built once per session and
documents file by `newsflow.artifacts` and persisted over its own RDD
(`artifacts.persisted`, lineage kept, no checkpoint): the keeper table
behind stages 2 and 3 (`curation.cached_curated`, with the MinHash
near-dup flag) and the DSIR weights behind stage 4
(`selection.cached_dsir_weights`). A call reads them, scans the corpus
once for stages 0 and 1, and builds its DataFrame without a Spark
job. No intermediate of the call itself is
materialized: the PIPELINE_SELECT_N-row selection has one consumer,
the packing window, whose one aggregation yields stages 4 and 5, and a
lost cached block recomputes from lineage instead of failing the call.

An earlier form cached a fat tokenized base (doc_id, lang, source,
text, t) shared by every stage; it LOST to recompute by ~3× on the DSIR
stage (1.5 s from parquet+codegen vs 5.0 s reading the cached token
arrays at sf0.1): a whole-stage-codegen regexp over dictionary-decoded
parquet strings is cheaper than deserializing materialized
array<string> cache blocks. The artifacts therefore hold products, not
tokens: the keeper table carries no text and the weights one row per
document.

Scale shape at 100 TB: two corpus passes per corpus (exact-dedup
groupBy, DSIR featurize) and one per call (the stage-0/1 aggregate),
each fusing tokenize into its scan; the exact dedup stage is the min_by hash
aggregation (map-side partial combine ships one candidate struct per
hash per partition — never the min-over-window form, which would
shuffle every fat row); the DSIR model tables are bucket-bounded
broadcasts; stage 4's selection is orderBy+limit
(TakeOrderedAndProject) and stage 5 packs only the N selected rows.
The artifacts are keeper-corpus-sized and corpus-sized: at 100 TB
write them as parquet intermediates (the merge/compact layer's job),
same rule, durable form.

Reference parity: composes the reference's filter→dedup→report ETL
(`build_datasets.py` stages) with the selection/packing stages a
training pipeline appends; no counterpart file — scale-mandated
extension.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from newsflow.curation import (
    _FUNNEL_CTES,
    SEQ_LEN,
    cached_curated,
    funnel_totals,
    pack_shard_expr,
    sql_pack_shard,
)
from newsflow.functions.text import sql_tokens
from newsflow.registry import register
from newsflow.selection import _DSIR_WEIGHTS_ORACLE, cached_dsir_weights

PIPELINE_SELECT_N = 100


@register(
    "corpus_pipeline_e2e",
    oracle=_FUNNEL_CTES
    + f""",
    w AS ({_DSIR_WEIGHTS_ORACLE}),
    sel AS (
      SELECT f.doc_id, f.n_tokens
      FROM final f JOIN w USING (doc_id)
      ORDER BY w.log_weight DESC, f.doc_id
      LIMIT {PIPELINE_SELECT_N}
    ),
    packed AS (
      SELECT doc_id, n_tokens,
             {sql_pack_shard()} AS shard,
             md5(doc_id::VARCHAR) AS h
      FROM sel
    ),
    off AS (
      SELECT shard,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS tok_off
      FROM packed
    )
    SELECT * FROM (
      SELECT '0_total' AS stage, count(*)::BIGINT AS docs,
             CAST(sum(len({sql_tokens()})) AS BIGINT) AS tokens
      FROM documents
      UNION ALL
      SELECT '1_quality_lang', count(*)::BIGINT,
             CAST(sum(n_tokens) AS BIGINT) FROM filtered
      UNION ALL
      SELECT '2_exact_dedup', count(*)::BIGINT,
             CAST(sum(n_tokens) AS BIGINT) FROM kept
      UNION ALL
      SELECT '3_near_dup', count(*)::BIGINT,
             CAST(sum(n_tokens) AS BIGINT) FROM final
      UNION ALL
      SELECT '4_dsir_selected', count(*)::BIGINT,
             CAST(sum(n_tokens) AS BIGINT) FROM sel
      UNION ALL
      SELECT '5_packed',
             count(DISTINCT shard * 1000000 + tok_off // {SEQ_LEN})::BIGINT,
             (SELECT CAST(sum(n_tokens) AS BIGINT) FROM sel) FROM off)
    """,
    tags=("curation", "selection", "packing", "pipeline"),
)
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data funnel as one composed plan — see the
    module docstring for its stages, materialization rule and scale
    shape. Stage-5 ``docs`` counts the distinct (shard, pack) sequences
    the selected slice spans; its ``tokens`` equals stage 4's (packing
    is token-conserving — the conservation check rides in the oracle)."""
    final = cached_curated(spark, sf_dir).filter(~F.col("near_dup"))
    weights = cached_dsir_weights(spark, sf_dir)
    selected = (
        final.select("doc_id", "n_tokens")
        .join(weights.select("doc_id", "log_weight"), "doc_id")
        .orderBy(F.desc("log_weight"), F.asc("doc_id"))
        .limit(PIPELINE_SELECT_N)
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
    )
    h = F.md5(F.col("doc_id").cast("string"))
    packed = selected.select(
        "doc_id",
        "n_tokens",
        pack_shard_expr().alias("shard"),
        h.alias("h"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = packed.withColumn(
        "tok_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    # One row per selected document: stage 4 and stage 5 come from one
    # aggregation of the packing window.
    sel_agg = off.agg(
        F.count(F.lit(1)).cast("long").alias("d4"),
        F.sum("n_tokens").cast("long").alias("t4"),
        F.countDistinct(
            F.col("shard") * 1000000
            + F.expr(f"tok_off div {SEQ_LEN}")
        )
        .cast("long")
        .alias("d5"),
    )
    wide = funnel_totals(spark, sf_dir).crossJoin(sel_agg)
    return wide.selectExpr(
        "stack(6, '0_total', d0, t0, '1_quality_lang', d1, t1, "
        "'2_exact_dedup', d2, t2, '3_near_dup', d3, t3, "
        "'4_dsir_selected', d4, t4, '5_packed', d5, t4) "
        "AS (stage, docs, tokens)"
    )
