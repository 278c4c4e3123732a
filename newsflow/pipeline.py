"""The composed full-funnel training-data pipeline as ONE query:
curate → DSIR-select → pack, with reuse barriers exactly where
measurement says they pay.

The per-query benchmark measures operators in isolation; a production
pretraining pipeline runs them as one lazy composition with explicit
reuse barriers where they pay off. This module is that composition plus
the oracled stage-count funnel that proves each stage's yield:

    0_total           raw corpus
    1_quality_lang    quality ≥ threshold AND lang gate     (curation)
    2_exact_dedup     min-doc_id keeper per distinct text   (curation)
    3_near_dup        MinHash near-dup losers removed       (curation)
    4_dsir_selected   top-N by DSIR importance weight       (selection)
    5_packed          fixed-SEQ_LEN sequence count spanned  (packing)

Plan-reuse mechanics — measured, including a negative result worth
recording. Round-7 first shipped this with a cached fat tokenized base
(doc_id, lang, source, text, t) shared by every stage: it LOST to
recompute by ~3× on the DSIR stage (1.5 s from parquet+codegen vs
5.0 s reading the cached token arrays at sf0.1). Tokens-as-compute
beats tokens-as-data: a whole-stage-codegen regexp over dictionary-
decoded parquet strings is cheaper than deserializing materialized
array<string> cache blocks — the same class of lesson as the r6
expression-inlining barrier, from the opposite direction. The shipped
form therefore lets each corpus-pass stage fuse its own row-local
tokenize into its scan, and places reuse barriers only where a SMALL
product is consumed repeatedly: `localCheckpoint` on the keeper table
(4 consumers) and on the {PIPELINE_SELECT_N}-row selection (3
consumers — without the barrier the dedup+DSIR chain re-executes per
consumer; measured 12.9 s → 6.4 s at sf0.1).

Scale shape at 100 TB: three corpus passes (stage-0/1 aggregate,
exact-dedup groupBy, DSIR featurize), each fusing tokenize into its
scan; the exact dedup stage is the min_by hash aggregation (map-side
partial combine ships one candidate struct per hash per partition —
never the min-over-window form, which would shuffle every fat row);
the near-dup drop list is pair-bounded and broadcast; the DSIR model
tables are bucket-bounded broadcasts; stage 4's selection is
orderBy+limit (TakeOrderedAndProject) and stage 5 packs only the N
selected rows. The keeper checkpoint is keeper-corpus-sized — at
100 TB swap it for a persisted parquet intermediate (the
merge/compact layer's job), same barrier, durable form.

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
    KEEP_LANGS,
    NEAR_DUP_JACCARD,
    QUALITY_THRESHOLD,
    SEQ_LEN,
    _scored,
    pack_shard_expr,
    sql_pack_shard,
)
from newsflow.dedup import minhash
from newsflow.dedup.core import doc_shingle_arrays
from newsflow.functions.text import sql_tokens
from newsflow.registry import register
from newsflow.selection import _DSIR_WEIGHTS_ORACLE, _dsir_weights
from newsflow.tables import load_table, spread

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
    """The full training-data funnel as one composed lazy plan — see
    module docstring for stages, plan-reuse mechanics, and scale shape.
    Stage-5 ``docs`` counts the distinct (shard, pack) sequences the
    selected slice spans; its ``tokens`` equals stage 4's (packing is
    token-conserving — the conservation check rides in the oracle)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = _scored(docs)
    passes = (F.col("q") >= F.lit(QUALITY_THRESHOLD)) & F.col("lang").isin(
        *KEEP_LANGS
    )
    # Exact dedup via min_by HASH AGGREGATION, not a min-over-window:
    # the window form shuffles every fat row by text hash; min_by's
    # map-side partial combine ships ONE candidate struct per (hash,
    # input partition) — the `curate_exact_stage` scale argument. Only
    # the columns the downstream stages need ride in the struct.
    # localCheckpoint barrier: four consumers (near-dup arrays, stage-2
    # aggregate, and `final`'s two consumers) would otherwise each
    # re-run the scan+score+shuffle chain.
    filtered = scored.filter(passes)
    row = F.struct("doc_id", "n_tokens", "text")
    kept = (
        filtered.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min_by(row, F.col("doc_id")).alias("r"))
        .select("r.*")
        .localCheckpoint(eager=True)
    )
    arrays_kept = doc_shingle_arrays(kept, 3)
    pairs = minhash._verify_pairs(
        arrays_kept,
        minhash.native_minhash_candidates(arrays_kept),
        threshold=NEAR_DUP_JACCARD,
    )
    # pair-bounded drop list, LAZY-checkpointed (r15 stage profile):
    # `final` is consumed both by `selected`'s barrier (build time) and
    # by the stage-3 aggregate (action time), so without a barrier the
    # whole minhash candidate+verify chain executes twice per query —
    # at 100 TB that is a second full pass over the keeper corpus. The
    # first consumer is `selected`'s EAGER checkpoint below, so the
    # drop list (and the minhash chain behind it) materializes while
    # the query is being built, not inside the action; the stage-3
    # aggregate then reuses the checkpointed handful of ids.
    dropped = (
        pairs.select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # pair-bounded -> broadcast anti join, no shuffle of the keepers
    final = kept.join(F.broadcast(dropped), "doc_id", "left_anti")

    weights = _dsir_weights(docs)
    # 100-row barrier: the three downstream consumers (selection
    # aggregate, packing window, sequence count) re-execute the whole
    # dedup+DSIR chain without it (measured 12.9 s -> 6.4 s at sf0.1).
    selected = (
        final.select("doc_id", "n_tokens")
        .join(weights.select("doc_id", "log_weight"), "doc_id")
        .orderBy(F.desc("log_weight"), F.asc("doc_id"))
        .limit(PIPELINE_SELECT_N)
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
        .localCheckpoint(eager=True)
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

    # Stage totals: 0/1 come from ONE corpus pass (the pass flag is a
    # row-local conditional); 2/3 aggregate the checkpointed keeper
    # table and its broadcast-anti product.
    s01 = scored.agg(
        F.count(F.lit(1)).cast("long").alias("d0"),
        F.sum("n_tokens").cast("long").alias("t0"),
        F.count_if(passes).cast("long").alias("d1"),
        F.sum(F.when(passes, F.col("n_tokens"))).cast("long").alias("t1"),
    )
    s2 = kept.agg(
        F.count(F.lit(1)).cast("long").alias("d2"),
        F.sum("n_tokens").cast("long").alias("t2"),
    )
    s3 = final.agg(
        F.count(F.lit(1)).cast("long").alias("d3"),
        F.sum("n_tokens").cast("long").alias("t3"),
    )
    funnel_agg = s01.crossJoin(s2).crossJoin(s3)
    sel_agg = selected.agg(
        F.count(F.lit(1)).cast("long").alias("d4"),
        F.sum("n_tokens").cast("long").alias("t4"),
    )
    seq_agg = off.agg(
        F.countDistinct(
            F.col("shard") * 1000000
            + F.expr(f"tok_off div {SEQ_LEN}")
        )
        .cast("long")
        .alias("d5")
    )
    wide = funnel_agg.crossJoin(sel_agg).crossJoin(seq_agg)
    return wide.selectExpr(
        "stack(6, '0_total', d0, t0, '1_quality_lang', d1, t1, "
        "'2_exact_dedup', d2, t2, '3_near_dup', d3, t3, "
        "'4_dsir_selected', d4, t4, '5_packed', d5, t4) "
        "AS (stage, docs, tokens)"
    )
