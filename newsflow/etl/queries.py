"""Registered ETL queries (SURVEY.md §2 F1–F9, P11–P12, Phase 2).

The GDELT ETL (`newsflow.etl.gdelt.build_core`) replaces the reference's
driver-side pandas pipeline (gdelt/processing/build_datasets.py). The
correctness driver only provides TPC-H-ish testdata, so these queries
*synthesize* a deterministic GKG-shaped raw input from the `documents`
table — identical arithmetic in Spark and in the DuckDB oracle — and then
run the real ETL over it. That exercises, with an exact oracle:

  * JSON-ish wide-string → typed-columns parsing (F1 compact timestamp,
    F4 semicolon split, F5 v2tone pad/truncate/safe-cast incl. the
    short / long / unparseable / NULL edge rows)
  * eTLD+1 registrable-domain extraction (F3, vendored suffix snapshot)
  * URL tokenization dropping pure-digit tokens (F6)
  * substring-quirk keyword flags (F7 — build_datasets.py:53-55)
  * keep-first URL dedup as a deterministic window (P11)
  * label_week date-window bucketing (P12)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from newsflow import artifacts
from newsflow.etl.gdelt import build_core, qa_summary, registrable_domain
from newsflow.registry import register
from newsflow.tables import load_table

# ---------------------------------------------------------------------------
# Synthesized GKG raw input. Every expression must have an exact DuckDB
# twin (see _SQL_RAW) — keep the two in lockstep.
# ---------------------------------------------------------------------------

_PATH_WORDS = ("alpha", "gemini", "radio", "daily")

# Test keyword lists chosen to exercise the substring quirk against the
# synthesized URL tokens: 'gemini'/'radio' are real path words; 'dio'
# only ever matches as a substring of 'radio'; 'zzz' never matches.
_TEST_KEYWORDS: dict[str, tuple[str, ...]] = {
    "k_genai": ("gemini", "gpt"),
    "k_dio": ("dio",),
    "k_zzz": ("zzz",),
}

_TEST_LABEL_WINDOWS = (
    ("week_feb", "2024-02-12", "2024-02-19"),
    ("week_may", "2024-05-13", "2024-05-20"),
)


def _m(k: int) -> F.Column:
    return F.col("doc_id") % k


def synth_gkg_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GKG-shaped raw frame derived deterministically from `documents`."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        F.when(_m(5) == 0, "20240212")
        .when(_m(5) == 1, "20240216")
        .when(_m(5) == 2, "20240514")
        .when(_m(5) == 3, "20240519")
        .otherwise("20240101")
    )
    date_s = F.concat(
        base, F.lpad((_m(24)).cast("string"), 2, "0"), F.lit("3000")
    )
    path_word = F.get(
        F.array(*[F.lit(w) for w in _PATH_WORDS]), (_m(4)).cast("int")
    )
    url = F.when(_m(97) == 3, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.lit("https://www."),
            F.col("source"),
            F.lit(".com/"),
            path_word,
            F.lit("/Story-"),
            (_m(7)).cast("string"),
        )
    )
    themes_s = (
        F.when(_m(13) == 0, F.lit(None).cast("string"))
        .when(_m(17) == 0, F.lit(""))
        .otherwise(F.replace(F.substring("text", 13, 30), F.lit(" "), F.lit(";")))
    )
    orgs_s = F.when(_m(11) == 0, F.lit(None).cast("string")).otherwise(
        F.replace(F.substring("text", 45, 25), F.lit(" "), F.lit(";"))
    )
    tone_s = (
        F.when(_m(29) == 0, F.lit(None).cast("string"))
        .when(_m(19) == 0, F.lit("1.0,2.0"))
        .when(_m(23) == 0, F.lit("1.0,abc,3.0,4.0,5.0,6.0,7.0,8.0,9.0"))
        .otherwise(
            F.concat(
                ((_m(21)) - 10).cast("string"),
                F.lit(".5,3.25,2.77,9.2,21.5,0.7,"),
                F.col("n_chars").cast("string"),
            )
        )
    )
    return docs.select(
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("GKGRECORDID"),
        date_s.alias("DATE"),
        url.alias("URL"),
        themes_s.alias("Themes"),
        orgs_s.alias("Organizations"),
        tone_s.alias("V2Tone"),
    )


# DuckDB twin of synth_gkg_raw (CTE body over the pre-registered
# `documents` view).
_SQL_RAW = """
  SELECT lpad(doc_id::VARCHAR, 6, '0') AS rec_id,
         CASE doc_id % 5 WHEN 0 THEN '20240212' WHEN 1 THEN '20240216'
              WHEN 2 THEN '20240514' WHEN 3 THEN '20240519'
              ELSE '20240101' END
           || lpad((doc_id % 24)::VARCHAR, 2, '0') || '3000' AS date_s,
         CASE WHEN doc_id % 97 = 3 THEN NULL
              ELSE 'https://www.' || source || '.com/'
                   || (['alpha','gemini','radio','daily'])[(doc_id % 4) + 1]
                   || '/Story-' || (doc_id % 7)::VARCHAR END AS url,
         CASE WHEN doc_id % 13 = 0 THEN NULL
              WHEN doc_id % 17 = 0 THEN ''
              ELSE replace(substr(text, 13, 30), ' ', ';') END AS themes_s,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE replace(substr(text, 45, 25), ' ', ';') END AS orgs_s,
         CASE WHEN doc_id % 29 = 0 THEN NULL
              WHEN doc_id % 19 = 0 THEN '1.0,2.0'
              WHEN doc_id % 23 = 0
                THEN '1.0,abc,3.0,4.0,5.0,6.0,7.0,8.0,9.0'
              ELSE ((doc_id % 21) - 10)::VARCHAR
                   || '.5,3.25,2.77,9.2,21.5,0.7,' || n_chars::VARCHAR
         END AS tone_s,
         source
  FROM documents
"""

_SQL_TOKS = (
    "list_filter(regexp_split_to_array(lower(url), '[^a-z0-9]+'),"
    " t -> t <> '' AND NOT regexp_matches(t, '^[0-9]+$'))"
)


def _sql_semi_list(src: str) -> str:
    return (
        f"list_filter(list_transform(string_split(coalesce({src}, ''), ';'),"
        " x -> trim(x)), x -> x <> '')"
    )


def _sql_tone(i: int) -> str:
    return (
        "(TRY_CAST(trim(string_split(coalesce(tone_s, ''), ',')"
        f"[{i}]) AS DOUBLE) + 0.0)"
    )


# The full ETL as a DuckDB CTE chain: parse → filter nulls → keep-first
# dedup → derive tokens/flags. `domain` is the *expected* eTLD+1 for the
# synthesized hosts (www.<source>.com → <source>.com); the generic
# when-chain itself is exercised by `registrable_domain_extract`.
_SQL_CORE = f"""
WITH raw AS ({_SQL_RAW}),
parsed AS (
  SELECT rec_id, url, source,
         strptime(date_s, '%Y%m%d%H%M%S') AS date_ts,
         themes_s, orgs_s, tone_s
  FROM raw
  WHERE url IS NOT NULL
),
dedup AS (
  SELECT * FROM parsed
  QUALIFY row_number() OVER (PARTITION BY url ORDER BY date_ts, rec_id) = 1
),
derived AS (
  SELECT rec_id, url,
         lower(source) || '.com' AS domain,
         date_ts,
         CAST(date_ts AS DATE) AS day,
         CASE WHEN CAST(date_ts AS DATE) BETWEEN DATE '2024-02-12'
                   AND DATE '2024-02-19' THEN 'week_feb'
              WHEN CAST(date_ts AS DATE) BETWEEN DATE '2024-05-13'
                   AND DATE '2024-05-20' THEN 'week_may'
              ELSE 'other' END AS label_week,
         {_sql_semi_list("themes_s")} AS themes_l,
         {_sql_semi_list("orgs_s")} AS orgs_l,
         tone_s,
         {_SQL_TOKS} AS toks
  FROM dedup
)
SELECT rec_id AS GKGRECORDID, url, domain,
       strftime(date_ts, '%Y-%m-%d %H:%M:%S') AS date_str,
       strftime(day, '%Y-%m-%d') AS day_str,
       label_week,
       coalesce(array_to_string(themes_l, ';'), '') AS themes_str,
       coalesce(array_to_string(orgs_l, ';'), '') AS orgs_str,
       {", ".join(f"{_sql_tone(i)} AS v2tone_{i}" for i in range(1, 8))},
       coalesce(array_to_string(toks, ' '), '') AS url_tokens_str,
       length(url) AS url_length,
       len(themes_l) AS num_themes,
       len(orgs_l) AS num_orgs,
       CASE WHEN contains(array_to_string(toks, ' '), 'gemini')
                 OR contains(array_to_string(toks, ' '), 'gpt')
            THEN 1 ELSE 0 END AS k_genai,
       CASE WHEN contains(array_to_string(toks, ' '), 'dio')
            THEN 1 ELSE 0 END AS k_dio,
       CASE WHEN contains(array_to_string(toks, ' '), 'zzz')
            THEN 1 ELSE 0 END AS k_zzz
FROM derived
"""


def build_gdelt_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A fresh, uncached gdelt_core over the synthesized GKG raw input."""
    return build_core(
        synth_gkg_raw(spark, sf_dir),
        label_windows=_TEST_LABEL_WINDOWS,
        keyword_lists=_TEST_KEYWORDS,
    )


def _core_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's gdelt_core over sf_dir's documents, one cached frame
    per corpus (newsflow.artifacts) shared by the ten queries that read
    it: the eight gdelt analyses here, `org_pagerank` and
    `org_triangle_counts`.

    The reference's build_datasets.py writes gdelt_core once and its
    analysis jobs read it; this does the same per session and corpus.
    A rebuild inside every call would pay the whole build's planning
    work per call, including analyzing the ~9.5k public-suffix literals
    of `registrable_domain` again. Building the artifact runs only the
    core's shuffle stage; the first action that reads it fills the
    cache (`artifacts.persisted`)."""

    def build():
        core = artifacts.persisted(build_gdelt_core(spark, sf_dir))
        return core, (core,)

    return artifacts.get(spark, "gdelt_core", sf_dir, ("documents",), build)


@register(
    "gdelt_core_etl",
    oracle=_SQL_CORE,
    tags=("etl",),
)
def gdelt_core_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end gdelt_core build (build_datasets.py replacement) over a
    synthesized GKG raw input, scalarized for hash comparison."""
    core = _core_df(spark, sf_dir)
    return core.select(
        "GKGRECORDID",
        "url",
        "domain",
        F.date_format("date_ts", "yyyy-MM-dd HH:mm:ss").alias("date_str"),
        F.date_format("day", "yyyy-MM-dd").alias("day_str"),
        "label_week",
        F.array_join("themes_arr", ";").alias("themes_str"),
        F.array_join("orgs_arr", ";").alias("orgs_str"),
        *[
            (F.col(f"v2tone_{i}") + F.lit(0.0)).alias(f"v2tone_{i}")
            for i in range(1, 8)
        ],
        F.array_join("url_tokens", " ").alias("url_tokens_str"),
        "url_length",
        "num_themes",
        "num_orgs",
        "k_genai",
        "k_dio",
        "k_zzz",
    )


_SQL_QA = f"""
WITH core AS ({_SQL_CORE})
SELECT count(*) AS n_rows,
       count(DISTINCT url) AS n_unique_urls,
       strftime(min(strptime(date_str, '%Y-%m-%d %H:%M:%S')),
                '%Y-%m-%d %H:%M:%S') AS min_date,
       strftime(max(strptime(date_str, '%Y-%m-%d %H:%M:%S')),
                '%Y-%m-%d %H:%M:%S') AS max_date,
       CAST(sum(CASE WHEN label_week = 'week_feb' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_week_feb,
       CAST(sum(CASE WHEN label_week = 'week_may' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_week_may,
       (round(avg(CASE WHEN num_themes = 0 THEN 1.0 ELSE 0.0 END) * 100
              + 1e-9, 2) + 0.0) AS pct_missing_themes,
       (round(avg(CASE WHEN num_orgs = 0 THEN 1.0 ELSE 0.0 END) * 100
              + 1e-9, 2) + 0.0) AS pct_missing_orgs
FROM core
"""


@register(
    "gdelt_qa_summary",
    oracle=_SQL_QA,
    tags=("etl", "agg"),
)
def gdelt_qa_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_docs.py QA metrics (row counts, date range, label split,
    missing-rate percentages) over the synthesized core."""
    return qa_summary(_core_df(spark, sf_dir))


@register(
    "registrable_domain_extract",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN lower(source) || '.com'
             WHEN 1 THEN lower(source) || '.co.uk'
             WHEN 2 THEN lower(source) || '.io'
             WHEN 3 THEN lower(source) || '.org.au'
             ELSE 'unknownsuffix' END AS domain
    FROM documents
    """,
    tags=("etl", "scalar"),
)
def registrable_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — eTLD+1 extraction (build_datasets.py:13-17 tldextract parity)
    across 2-level suffixes, 1-level suffixes, unknown-suffix fallback, and
    hosts with/without a www label."""
    docs = load_table(spark, sf_dir, "documents")
    suffix = (
        F.when(_m(5) == 0, ".com")
        .when(_m(5) == 1, ".co.uk")
        .when(_m(5) == 2, ".io")
        .when(_m(5) == 3, ".org.au")
        .otherwise(".unknownsuffix")
    )
    www = F.when(_m(2) == 0, "www.").otherwise("")
    url = F.concat(
        F.lit("https://"), www, F.col("source"), suffix, F.lit("/x/y?q=1")
    )
    return docs.select(
        "doc_id", F.col("source"), url.alias("__url")
    ).select(
        "doc_id", registrable_domain("__url").alias("domain")
    )


# ---------------------------------------------------------------------------
# The reference's analysis jobs (newsflow.etl.analysis) over the same
# synthesized core — each with an exact oracle. Note gdelt_entity_sentiment's
# oracle deliberately uses the reference's THREE-SCAN UNION ALL form
# (sentiment_analysis.py:26-35) while the engine runs the single-pass
# exploded-dimension rewrite: identical rows, one scan.
# ---------------------------------------------------------------------------

from newsflow.etl.analysis import (  # noqa: E402
    co_mentions,
    entity_sentiment,
    source_sentiment_having,
    theme_topk,
    top_sources_for,
    weekly_stats,
)
from newsflow.functions.scalars import sql_davg_nullable  # noqa: E402

_SQL_WITH_CORE = f"WITH core AS ({_SQL_CORE})"
_SQL_AVG_TONE = sql_davg_nullable("v2tone_1")


@register(
    "gdelt_weekly_stats",
    oracle=f"""
    {_SQL_WITH_CORE}
    SELECT label_week,
           count(*) AS n_articles,
           {_SQL_AVG_TONE} AS avg_tone,
           {sql_davg_nullable("v2tone_3")} AS avg_negative,
           (round(avg(k_genai) * 100 + 1e-9, 1) + 0.0) AS pct_k_genai,
           (round(avg(k_dio) * 100 + 1e-9, 1) + 0.0) AS pct_k_dio
    FROM core GROUP BY label_week
    """,
    tags=("etl", "agg", "reference-replay"),
)
def gdelt_weekly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — summary stats block (general_ml_...py:31-43)."""
    return weekly_stats(_core_df(spark, sf_dir), ("k_genai", "k_dio"))


@register(
    "gdelt_entity_sentiment",
    oracle=f"""
    {_SQL_WITH_CORE}
    SELECT 'GenAI' AS company, label_week,
           {_SQL_AVG_TONE} AS avg_tone, count(*) AS n_articles
    FROM core WHERE k_genai = 1 GROUP BY label_week
    UNION ALL
    SELECT 'Dio' AS company, label_week,
           {_SQL_AVG_TONE} AS avg_tone, count(*) AS n_articles
    FROM core WHERE k_dio = 1 GROUP BY label_week
    """,
    tags=("etl", "setop", "reference-replay"),
)
def gdelt_entity_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — per-company weekly sentiment; single-pass exploded-dimension
    rewrite of the reference's UNION ALL (sentiment_analysis.py:26-35)."""
    return entity_sentiment(
        _core_df(spark, sf_dir), {"GenAI": "k_genai", "Dio": "k_dio"}
    )


@register(
    "gdelt_top_sources",
    oracle=f"""
    {_SQL_WITH_CORE}
    SELECT domain, count(*) AS article_count,
           {_SQL_AVG_TONE} AS avg_sentiment
    FROM core WHERE k_genai = 1
    GROUP BY domain
    ORDER BY article_count DESC, domain
    LIMIT 10
    """,
    tags=("etl", "topk", "reference-replay"),
)
def gdelt_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/T1 — busiest sources for a flag (network_analysis.py:36-47)."""
    return top_sources_for(_core_df(spark, sf_dir), "k_genai", limit=10)


@register(
    "gdelt_co_mentions",
    oracle=f"""
    {_SQL_WITH_CORE}
    SELECT partner, count(*) AS n_co_mentions
    FROM (
      SELECT unnest(list_filter(string_split(orgs_str, ';'), x -> x <> ''))
        AS partner
      FROM core WHERE k_genai = 1
    )
    WHERE partner NOT IN ('the', 'data')
    GROUP BY partner
    ORDER BY n_co_mentions DESC, partner
    LIMIT 10
    """,
    tags=("etl", "explode", "reference-replay"),
)
def gdelt_co_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/P6 — co-mention edge counts with noise exclusion
    (network_analysis.py:56-68)."""
    return co_mentions(
        _core_df(spark, sf_dir), "k_genai", exclude=("the", "data"), limit=10
    )


@register(
    "gdelt_theme_topk",
    oracle=f"""
    {_SQL_WITH_CORE}
    SELECT theme, count(*) AS n
    FROM (
      SELECT unnest(list_filter(string_split(themes_str, ';'), x -> x <> ''))
        AS theme
      FROM core WHERE k_genai = 1
    )
    GROUP BY theme
    ORDER BY n DESC, theme
    LIMIT 10
    """,
    tags=("etl", "explode", "reference-replay"),
)
def gdelt_theme_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — top themes among flagged articles (theme_ml_job.py:34-39)."""
    return theme_topk(_core_df(spark, sf_dir), "k_genai", limit=10)


@register(
    "gdelt_source_sentiment_having",
    oracle=f"""
    {_SQL_WITH_CORE}
    SELECT domain, count(*) AS article_count,
           {_SQL_AVG_TONE} AS avg_sentiment
    FROM core WHERE k_genai = 1
    GROUP BY domain
    HAVING count(*) >= 3
    """,
    tags=("etl", "having", "reference-replay"),
)
def gdelt_source_sentiment_having(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A4 — per-source sentiment with min-support HAVING
    (general_ml_...py:242-265)."""
    return source_sentiment_having(_core_df(spark, sf_dir), "k_genai", 3)
