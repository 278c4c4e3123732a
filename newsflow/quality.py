"""Gopher/Dolma-style document quality + repetition signals.

The published LLM-corpus filters (Rae et al. 2021 "Scaling Language
Models: ... Gopher" appendix A; Dolma's reimplementation) gate documents
on token-count bounds, mean word length, alphabetic-word fraction,
stopword presence, and repetition ratios. This module computes those
signals as pure row-local Spark expressions with exact DuckDB twins —
zero shuffle, parquet-scan speed at any corpus size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from newsflow.functions.scalars import dround, sql_dround
from newsflow.functions.text import (
    EN_STOPWORDS,
    sql_tokens,
    tokens_expr,
)
from newsflow.registry import register
from newsflow.tables import load_table

MIN_TOKENS = 50
MAX_TOKENS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_ALPHA_FRAC = 0.8
MIN_STOP_HITS = 2

_SW = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


@register(
    "doc_gopher_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {sql_tokens()} AS t FROM documents
    ), sig AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             list_sum(list_transform(t, x -> length(x)))::DOUBLE
               / greatest(len(t), 1) AS mwl,
             len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE
               / greatest(len(t), 1) AS alpha_frac,
             len(list_filter({_SW}::VARCHAR[],
                             w -> list_contains(t, w))) AS stop_hits
      FROM toks
    )
    SELECT doc_id, n_tokens,
           {sql_dround("mwl", 4)} AS mean_word_len,
           {sql_dround("alpha_frac", 4)} AS alpha_word_frac,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           (n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
            AND mwl BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
            AND alpha_frac >= {MIN_ALPHA_FRAC}
            AND stop_hits >= {MIN_STOP_HITS}) AS gopher_pass
    FROM sig
    """,
    tags=("quality", "text"),
)
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule signals per document + the combined pass flag: token
    bounds, mean word length 3-10, >=80% alphabetic words, >=2 distinct
    stopwords present (Rae et al. 2021, appendix A filter set)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens_expr("text")
    n = F.size(t)
    mwl = F.expr(
        f"aggregate(transform({_spark_toks()}, x -> length(x)),"
        f" 0L, (a, x) -> a + x)"
    ) / F.greatest(n, F.lit(1)).cast("double")
    alpha = F.size(F.filter(t, lambda x: x.rlike("[a-z]"))) / F.greatest(
        n, F.lit(1)
    ).cast("double")
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    stop_hits = F.size(
        F.filter(sw, lambda w: F.array_contains(t, w))
    ).cast("long")
    base = docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        mwl.alias("mwl"),
        alpha.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        dround(F.col("mwl"), 4).alias("mean_word_len"),
        dround(F.col("alpha_frac"), 4).alias("alpha_word_frac"),
        "stop_hits",
        (
            F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
            & F.col("mwl").between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
            & (F.col("alpha_frac") >= MIN_ALPHA_FRAC)
            & (F.col("stop_hits") >= MIN_STOP_HITS)
        ).alias("gopher_pass"),
    )


def _spark_toks() -> str:
    return "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"


@register(
    "doc_repetition_scores",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\. '),
                         s -> s <> '') AS sents,
             {sql_tokens()} AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sents,
           {sql_dround(
               "1.0 - len(list_distinct(sents))::DOUBLE"
               " / greatest(len(sents), 1)", 4)} AS dup_sent_ratio,
           {sql_dround(
               "list_max(list_prepend(0, list_transform(list_distinct(t),"
               " x -> len(list_filter(t, y -> y = x)))))::DOUBLE"
               " / greatest(len(t), 1)", 4)} AS top_token_share
    FROM base
    """,
    tags=("quality", "text"),
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (the Gopher/Dolma dedup-adjacent gates):
    duplicate-sentence ratio and most-frequent-token share. Row-local
    higher-order functions — O(tokens × distinct tokens) per row, zero
    shuffle; documents with high scores are boilerplate/spam
    candidates."""
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.split("text", "\\. "), lambda s: s != ""
    )
    t = tokens_expr("text")
    dup_ratio = F.lit(1.0) - F.size(F.array_distinct(sents)) / F.greatest(
        F.size(sents), F.lit(1)
    ).cast("double")
    top_share = F.expr(
        "array_max(concat(array(0), transform(array_distinct("
        + _spark_toks()
        + "), x -> size(filter("
        + _spark_toks()
        + ", y -> y = x)))))"
    ) / F.greatest(F.size(t), F.lit(1)).cast("double")
    return docs.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sents"),
        dround(dup_ratio, 4).alias("dup_sent_ratio"),
        dround(top_share, 4).alias("top_token_share"),
    )
