"""Data selection via hashed n-gram importance resampling (DSIR —
Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023): score every raw document by how much more
likely its hashed n-gram bag is under a TARGET-domain bag-of-ngrams
model than under the raw-corpus model, then keep the top-weighted
slice. This is the selection step a pretraining pipeline runs between
curation (gates/dedup) and export — cheap enough for 100 TB because the
"model" is just two bucket-count tables.

Deterministic recipe (everything exactly oracle-able):
- Features are unigrams + bigrams hashed into ``DSIR_BUCKETS`` buckets
  via the first 3 md5 nibbles (engine-portable, same derivation as
  dedup/simhash_md5.py), not xxhash — hashing IS the DSIR trick that
  keeps the model O(buckets) instead of O(vocab).
- Bucket log-ratios ln(p_target(b)/p_raw(b)) with Laplace smoothing are
  the only transcendental evaluations: DSIR_BUCKETS of them, rounded at
  7 decimals at the bucket level BEFORE any per-doc combination (the
  retrieval.py ln-ulp discipline).
- Per-doc log-weights are occurrence-weighted DECIMAL sums of the
  rounded bucket ratios — aggregation-order-independent.

Scale shape: one explode + groupBy(bucket) per count table (map-side
combined into at most DSIR_BUCKETS rows each — broadcast-sized by
construction), a broadcast join of the ratio table back onto per-doc
bucket counts, and one doc-keyed aggregation. The corpus text never
shuffles; the target side at 100 TB is a sampled slice with identical
shape. Selection (`dsir_top_docs`) is a rank-limited window — the
deterministic temperature-0 form of DSIR's Gumbel-top-k sampling."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from newsflow import artifacts
from newsflow.functions.scalars import dround, sql_dround
from newsflow.functions.text import sql_tokens, tokens_expr
from newsflow.registry import register
from newsflow.tables import load_table, spread

DSIR_BUCKETS = 4096  # 3 md5 nibbles
DSIR_TARGET_LANG = "en"
DSIR_RATIO_ROUND = 7
DSIR_WEIGHT_ROUND = 6
DSIR_TOP_N = 100

_HEX = "0123456789abcdef"


def _bucket_expr(col: str) -> F.Column:
    """First 3 md5 nibbles → bucket id in [0, 4096)."""
    nib = [
        f"(instr('{_HEX}', substring(md5({col}), {p}, 1)) - 1)"
        for p in (1, 2, 3)
    ]
    return F.expr(
        f"CAST({nib[0]} * 256 + {nib[1]} * 16 + {nib[2]} AS INT)"
    )


def _sql_bucket(col: str) -> str:
    nib = [
        f"(instr('{_HEX}', substr(md5({col}), {p}, 1)) - 1)" for p in (1, 2, 3)
    ]
    return f"CAST({nib[0]} * 256 + {nib[1]} * 16 + {nib[2]} AS INT)"


def _feature_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket): one row per hashed unigram+bigram
    occurrence — the DSIR feature stream, row-local (explode + md5,
    no shuffle)."""
    toks = docs.select(
        "doc_id", "lang", tokens_expr("text").alias("t")
    ).filter(F.size("t") > 0)
    bigrams = F.expr(
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1),"
        " i -> concat(t[i - 1], ' ', t[i])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    feats = toks.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("t"), bigrams)).alias("f"),
    )
    return feats.select("doc_id", "lang", _bucket_expr("f").alias("bucket"))


_SQL_FEATS = f"""
    SELECT doc_id, lang, f FROM (
      SELECT doc_id, lang, t FROM (
        SELECT doc_id, lang, {sql_tokens("text")} AS t FROM documents
      ) WHERE len(t) > 0
    ), UNNEST(list_concat(
         t,
         CASE WHEN len(t) >= 2 THEN
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
         ELSE CAST([] AS VARCHAR[]) END
       )) AS u(f)
"""

_SQL_DOC_BUCKETS = f"""
    SELECT doc_id, lang, {_sql_bucket("f")} AS bucket,
           count(*) AS tf
    FROM ({_SQL_FEATS})
    GROUP BY 1, 2, 3
"""

_DSIR_WEIGHTS_ORACLE = f"""
    WITH db AS ({_SQL_DOC_BUCKETS}),
    raw_b AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS cr FROM db GROUP BY 1),
    tgt_b AS (
      SELECT bucket, CAST(sum(tf) AS BIGINT) AS ct FROM db
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(cr) AS BIGINT) AS nr,
             (SELECT CAST(sum(ct) AS BIGINT) FROM tgt_b) AS nt
      FROM raw_b
    ),
    ratio AS (
      SELECT r.bucket,
             {sql_dround(
                 "ln(((COALESCE(t.ct, 0) + 1.0) * (tot.nr + " +
                 str(DSIR_BUCKETS) + ")) / ((r.cr + 1.0) * (tot.nt + " +
                 str(DSIR_BUCKETS) + ")))",
                 DSIR_RATIO_ROUND,
             )} AS log_ratio
      FROM raw_b r LEFT JOIN tgt_b t ON t.bucket = r.bucket, tot
    )
    SELECT db.doc_id,
           CAST(sum(db.tf) AS BIGINT) AS n_features,
           (round(CAST(sum(CAST(db.tf * ratio.log_ratio AS DECIMAL(25,10)))
                       AS DOUBLE) + 1e-9, {DSIR_WEIGHT_ROUND}) + 0.0)
             AS log_weight
    FROM db JOIN ratio USING (bucket)
    GROUP BY db.doc_id
"""


def _dsir_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, n_features, log_weight), built fresh from ``docs``."""
    feats = _feature_buckets(docs)
    # ONE (doc, bucket)-keyed aggregation feeds BOTH the bucket count
    # tables AND the final per-doc weighting: the bucket-count branch
    # now consumes per-doc PRE-AGGREGATED rows instead of re-exploding
    # the raw feature stream through its own corpus-sized shuffle
    # (measured 1.87 s → 1.29 s at sf0.1). The raw + lang-filtered
    # target counts come from one conditional aggregation.
    db = feats.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("tf")
    )
    bc = db.groupBy("bucket").agg(
        F.sum("tf").alias("cr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("tf")).otherwise(
                F.lit(0)
            )
        ).alias("ct"),
    )
    totals = F.broadcast(
        bc.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    )
    ratio = F.broadcast(
        bc.crossJoin(totals).select(
            "bucket",
            dround(
                F.log(
                    ((F.col("ct") + 1.0) * (F.col("nr") + DSIR_BUCKETS))
                    / ((F.col("cr") + 1.0) * (F.col("nt") + DSIR_BUCKETS))
                ),
                DSIR_RATIO_ROUND,
            ).alias("log_ratio"),
        )
    )
    contrib = (F.col("tf") * F.col("log_ratio")).cast("decimal(25,10)")
    return (
        db.join(ratio, "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_features"),
            (
                F.round(
                    F.sum(contrib).cast("double") + F.lit(1e-9),
                    DSIR_WEIGHT_ROUND,
                )
                + F.lit(0.0)
            ).alias("log_weight"),
        )
    )


def cached_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR weights of sf_dir's documents, one cached frame per
    corpus (newsflow.artifacts): `dsir_importance_weights`,
    `dsir_top_docs` and `corpus_pipeline_e2e` read it instead of
    re-running the featurize pass and its three aggregations per call.
    Building it runs those shuffle stages; the first action that reads
    it fills the cache (`artifacts.persisted`)."""

    def build():
        weights = artifacts.persisted(
            _dsir_weights(spread(load_table(spark, sf_dir, "documents")))
        )
        return weights, (weights,)

    return artifacts.get(
        spark, "dsir_weights", sf_dir, ("documents",), build
    )


@register(
    "dsir_importance_weights",
    oracle=_DSIR_WEIGHTS_ORACLE,
    tags=("corpus", "selection", "dsir"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR log importance weight
    ln(p_target/p_raw) under hashed unigram+bigram bag models
    (target = '{DSIR_TARGET_LANG}' documents, raw = whole corpus):
    positive means "looks more like the target domain than the corpus
    average" — the score DSIR resamples by. See module docstring for
    the determinism recipe and scale shape."""
    return cached_dsir_weights(spark, sf_dir)


@register(
    "dsir_top_docs",
    oracle=f"""
    WITH w AS ({_DSIR_WEIGHTS_ORACLE})
    SELECT doc_id, n_features, log_weight,
           CAST(sel_rank AS BIGINT) AS sel_rank
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY log_weight DESC, doc_id
      ) AS sel_rank FROM w
    ) WHERE sel_rank <= {DSIR_TOP_N}
    """,
    tags=("corpus", "selection", "dsir"),
)
def dsir_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR-selected training slice: top-{DSIR_TOP_N} documents by
    importance weight (rounded-weight + doc_id ranking — the
    deterministic temperature-0 form of DSIR's Gumbel-top-k).

    Scale shape: the cut is orderBy + limit — TakeOrderedAndProject,
    per-partition top-N then a merge of partition winners, NOT a global
    row_number window over the corpus (the single-partition-window
    anti-pattern the round-4 sweep removed). The rank column is
    assigned AFTER the limit, over the {DSIR_TOP_N} surviving rows
    only — a bounded window, same class as the recall band tables."""
    top = (
        cached_dsir_weights(spark, sf_dir)
        .orderBy(F.desc("log_weight"), F.asc("doc_id"))
        .limit(DSIR_TOP_N)
    )
    w = Window.orderBy(F.desc("log_weight"), F.asc("doc_id"))
    return top.withColumn(
        "sel_rank", F.row_number().over(w).cast("long")
    )
