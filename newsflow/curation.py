"""Flagship training-data curation pipeline: the end-to-end composition a
100 TB corpus actually goes through before model training.

Stages, in the order a real pipeline applies them (cheap row-local filters
first so every later shuffle sees fewer rows):

1. **Quality + language gate** — pure per-row expressions (quality score,
   lang metadata), no shuffle, fully pushdown-friendly.
2. **Exact dedup** — md5 hash groupBy keeping min(doc_id); one 16-byte-key
   shuffle over the surviving rows only.
3. **Near-dup removal** — MinHash LSH candidates + exact Jaccard
   verification (`dedup/minhash.py`), then drop the larger doc_id of every
   verified pair (deterministic greedy keep-smallest). The LSH stage runs
   on the already-filtered corpus, which at 100 TB is the difference
   between shingling every document and shingling the ~1/3 that survive
   the cheap gates.

Stages 1-3 are one lazy DataFrame plan (`build_curated`) — Catalyst
pushes the stage-1 predicates into the parquet scan and the only
shuffles are the dedup hash-agg and the LSH band join, both over
filtered data. Its product, the keeper table with a near-dup flag,
depends only on the corpus, so the registered queries read it as a
corpus-level artifact (`cached_curated`) built once per session and
documents file; `curate` runs the same plan over any DataFrame.

Generalizes the reference's manual filter chain
(`common-crawl/scripts/nlp_analysis.py:102-105` — period filter, non-empty
filter — and `gdelt/processing/build_datasets.py:90` — URL dedup) into the
full curation funnel an LLM-data pipeline needs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from newsflow import artifacts
from newsflow.dedup import minhash
from newsflow.dedup.core import doc_shingle_arrays
from newsflow.functions.scalars import dround, sql_dround
from newsflow.functions.text import (
    shingles_expr,
    sql_shingles_rel,
    sql_stopword_ratio,
    sql_tokens,
    stopword_ratio_expr,
    tokens_expr,
)
from newsflow.registry import register
from newsflow.tables import load_table, spread

QUALITY_THRESHOLD = 0.6
KEEP_LANGS = ("en",)
NEAR_DUP_JACCARD = 0.8


def _scored(docs: DataFrame) -> DataFrame:
    """documents + (n_tokens, quality score q) as pure row-local columns."""
    base = docs.select(
        "doc_id", "lang", "source", "text", tokens_expr("text").alias("t")
    )
    t = F.col("t")
    n = F.size(t)
    stop_ratio = stopword_ratio_expr(t)
    distinct_ratio = F.size(F.array_distinct(t)) / F.greatest(n, F.lit(1))
    q = (
        0.4 * F.least(n / F.lit(100.0), F.lit(1.0))
        + 0.3 * (F.lit(1.0) - stop_ratio)
        + 0.3 * distinct_ratio
    )
    return base.select(
        "doc_id",
        "lang",
        "source",
        "text",
        n.alias("n_tokens"),
        q.alias("q"),
    )


def _passes() -> F.Column:
    """The stage-1 gate: quality threshold and language."""
    return (F.col("q") >= F.lit(QUALITY_THRESHOLD)) & F.col("lang").isin(
        *KEEP_LANGS
    )


class ExpectationFailure(ValueError):
    """Raised by `curate(enforce_expectations=True)` when an error-level
    data-quality expectation fails — the Deequ stop-the-line pattern."""


def curate(
    docs: DataFrame,
    spark: SparkSession,
    enforce_expectations: bool = False,
) -> DataFrame:
    """Run the full funnel; returns the surviving per-document table.

    With ``enforce_expectations=True`` the error-severity checks from
    `newsflow.corpus.expectations_report` (non-null key, unique key,
    non-empty text — see EXPECTATION_SEVERITY) run FIRST and any failure
    raises :class:`ExpectationFailure` before the funnel touches the
    batch: a structurally broken batch (unkeyable rows would silently
    vanish in the dedup stage, empty texts would score as minimum-quality
    noise) should stop the line, not degrade the corpus. Cost is one
    extra scan producing a 6-row report — at 100 TB the same scan a
    published validation report needs anyway, so gating is free when the
    report is already part of the pipeline."""
    if enforce_expectations:
        from newsflow.corpus import EXPECTATION_SEVERITY, expectations_report

        hard = [
            name
            for name, sev in EXPECTATION_SEVERITY.items()
            if sev == "error"
        ]
        failing = sorted(
            r.check_name
            for r in expectations_report(docs)
            .filter(~F.col("passed") & F.col("check_name").isin(hard))
            .collect()  # bounded: one row per check
        )
        if failing:
            raise ExpectationFailure(
                "curation gate: error-level expectation(s) failing: "
                f"{failing} — fix or quarantine the batch; the funnel "
                "will not ingest structurally broken documents"
            )
    return _survivors(build_curated(docs))


def build_curated(docs: DataFrame) -> DataFrame:
    """The funnel's keeper table, built fresh from ``docs``: one row per
    exact-dedup keeper of the quality + language gate, with the columns
    ``(doc_id, lang, source, n_tokens, q, near_dup)``. ``near_dup``
    marks the larger doc_id of a verified near-dup pair (greedy
    keep-smallest), so the funnel's survivors are the rows where it is
    false. The text is read inside the build only.

    Near-dup detection runs on the keepers only: at 100 TB that is the
    difference between shingling every document and shingling the ~1/3
    that survive the cheap gates. The drop list is corpus-proportional
    at scale, so it carries no broadcast hint; adaptive execution
    broadcasts it when it fits."""
    kept = curate_exact_stage(_scored(docs).filter(_passes()))
    arrays = doc_shingle_arrays(spread(kept.select("doc_id", "text")), 3)
    pairs = minhash._verify_pairs(
        arrays,
        minhash.native_minhash_candidates(arrays),
        threshold=NEAR_DUP_JACCARD,
    )
    dropped = pairs.select(
        F.col("doc_b").alias("doc_id"), F.lit(True).alias("near_dup")
    ).distinct()
    return kept.join(dropped, "doc_id", "left").select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "q",
        F.coalesce(F.col("near_dup"), F.lit(False)).alias("near_dup"),
    )


def cached_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keeper table of sf_dir's documents, one cached frame per
    corpus (newsflow.artifacts): `corpus_curation_kept`,
    `corpus_curation_funnel` and `corpus_pipeline_e2e` read it instead
    of re-running the exact-dedup shuffle and the MinHash chain per
    call. Building it runs those shuffle stages; the first action that
    reads it fills the cache (`artifacts.persisted`)."""

    def build():
        curated = artifacts.persisted(
            build_curated(load_table(spark, sf_dir, "documents"))
        )
        return curated, (curated,)

    return artifacts.get(spark, "curated", sf_dir, ("documents",), build)


def _survivors(curated: DataFrame) -> DataFrame:
    """The funnel's surviving documents from a keeper table."""
    return curated.filter(~F.col("near_dup")).select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        dround(F.col("q"), 4).alias("quality_score"),
    )


def funnel_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row ``(d0, t0, d1, t1, d2, t2, d3, t3)``: documents and
    tokens at funnel stages 0-3. Stages 0 and 1 come from one pass over
    the corpus (the gate is a row-local flag); stages 2 and 3 from the
    cached keeper table."""
    scored = _scored(spread(load_table(spark, sf_dir, "documents")))
    passes = _passes()
    s01 = scored.agg(
        F.count(F.lit(1)).cast("long").alias("d0"),
        F.sum("n_tokens").cast("long").alias("t0"),
        F.count_if(passes).cast("long").alias("d1"),
        F.sum(F.when(passes, F.col("n_tokens"))).cast("long").alias("t1"),
    )
    survivor = ~F.col("near_dup")
    s23 = cached_curated(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("d2"),
        F.sum("n_tokens").cast("long").alias("t2"),
        F.count_if(survivor).cast("long").alias("d3"),
        F.sum(F.when(survivor, F.col("n_tokens"))).cast("long").alias("t3"),
    )
    return s01.crossJoin(s23)


def funnel_ctes_sql(src: str = "documents", p: str = "") -> str:
    """The DuckDB funnel replay (quality gate → language gate → exact
    dedup → near-dup removal) as a reusable CTE chain over relation
    ``src``, with every CTE name prefixed by ``p`` so two funnels (e.g.
    full-corpus vs a sampled teacher slice) compose in one WITH block.
    Exposes ``{p}toks`` and ``{p}final``; no leading WITH keyword."""
    return f"""{p}toks AS (
  SELECT doc_id, lang, source, text, {sql_tokens()} AS t FROM {src}),
{p}scored AS (
  SELECT doc_id, lang, source, text, t, len(t) AS n_tokens,
         0.4 * least(len(t) / 100.0, 1.0)
       + 0.3 * (1.0 - {sql_stopword_ratio("t")})
       + 0.3 * (len(list_distinct(t))::DOUBLE / greatest(len(t), 1)) AS q
  FROM {p}toks),
{p}filtered AS (
  SELECT * FROM {p}scored
  WHERE q >= {QUALITY_THRESHOLD} AND lang IN ('en')),
{p}keepers AS (
  SELECT min(doc_id) AS doc_id FROM {p}filtered GROUP BY md5(text)),
{p}kept AS (
  SELECT f.* FROM {p}filtered f JOIN {p}keepers k USING (doc_id)),
{p}sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
  FROM {p}kept, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
{p}sizes AS (SELECT doc_id, count(*) AS n_sh FROM {p}sh GROUP BY 1),
{p}common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM {p}sh a JOIN {p}sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
{p}pairs AS (
  SELECT doc_a, doc_b
  FROM {p}common
  JOIN {p}sizes sa ON sa.doc_id = doc_a
  JOIN {p}sizes sb ON sb.doc_id = doc_b
  WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common)
        >= {NEAR_DUP_JACCARD}),
{p}final AS (
  SELECT * FROM {p}kept
  WHERE doc_id NOT IN (SELECT doc_b FROM {p}pairs))
"""


_FUNNEL_CTES = "\nWITH " + funnel_ctes_sql()


@register(
    "corpus_curation_kept",
    oracle=_FUNNEL_CTES
    + """
    SELECT doc_id, lang, source, n_tokens,
           (round(q + 1e-9, 4) + 0.0) AS quality_score
    FROM final
    """,
    tags=("curation", "dedup", "text"),
)
def corpus_curation_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline: quality gate -> language gate ->
    exact dedup -> MinHash near-dup removal; the surviving corpus."""
    return _survivors(cached_curated(spark, sf_dir))


@register(
    "corpus_curation_funnel",
    oracle=_FUNNEL_CTES
    + """
    SELECT * FROM (
      SELECT '0_total' AS stage, count(*) AS docs,
             CAST(sum(len({t})) AS BIGINT) AS tokens
      FROM documents
      UNION ALL
      SELECT '1_quality_lang', count(*), CAST(sum(n_tokens) AS BIGINT)
      FROM filtered
      UNION ALL
      SELECT '2_exact_dedup', count(*), CAST(sum(n_tokens) AS BIGINT)
      FROM kept
      UNION ALL
      SELECT '3_near_dup', count(*), CAST(sum(n_tokens) AS BIGINT)
      FROM final)
    """.format(t=sql_tokens()),
    tags=("curation", "dedup", "text"),
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survivor counts + token budget for the curation
    funnel — the yield report a data-pipeline owner reads first: one
    corpus pass for stages 0 and 1 and one scan of the cached keeper
    table for stages 2 and 3 (`funnel_totals`), unpivoted with
    `stack`."""
    return funnel_totals(spark, sf_dir).selectExpr(
        "stack(4, '0_total', d0, t0, '1_quality_lang', d1, t1, "
        "'2_exact_dedup', d2, t2, '3_near_dup', d3, t3) "
        "AS (stage, docs, tokens)"
    )


BUDGET_FRACTION = 0.5


@register(
    "corpus_token_budget_sample",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {sql_tokens()} AS t FROM documents),
    scored AS (
      SELECT doc_id, len(t) AS n_tokens,
             (round(0.4 * least(len(t) / 100.0, 1.0)
                  + 0.3 * (1.0 - {sql_stopword_ratio("t")})
                  + 0.3 * (len(list_distinct(t))::DOUBLE
                           / greatest(len(t), 1)) + 1e-9, 4) + 0.0) AS qb
      FROM toks),
    tot AS (SELECT floor(sum(n_tokens) * {BUDGET_FRACTION}) AS budget
            FROM scored),
    buckets AS (SELECT qb, sum(n_tokens) AS bt FROM scored GROUP BY qb),
    bcum AS (SELECT qb, bt, sum(bt) OVER (ORDER BY qb DESC) AS cum_after
             FROM buckets),
    cls AS (SELECT qb, cum_after, cum_after - bt AS cum_before FROM bcum),
    dcum AS (SELECT doc_id, n_tokens, qb,
                    sum(n_tokens) OVER (PARTITION BY qb ORDER BY doc_id)
                      AS run
             FROM scored)
    SELECT doc_id, n_tokens, qb AS quality_score
    FROM dcum JOIN cls USING (qb) CROSS JOIN tot
    WHERE cum_after <= budget
       OR (cum_before < budget AND run <= budget - cum_before)
    """,
    tags=("curation", "sampling"),
)
def corpus_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget selection: keep the best documents
    until the token budget (50% of corpus tokens) is filled.

    The naive form — global ORDER BY quality + one cumulative-sum window —
    is a single-partition window at 100 TB. This is the scale-correct
    two-pass: (1) aggregate token totals per ROUNDED quality bucket
    (<= ~10k buckets by construction, so the bucket cumsum window is
    driver-trivial and the bucket table broadcasts), classify each bucket
    as fully-inside / boundary / outside the budget; (2) only the single
    boundary bucket needs a per-document cumulative window, partitioned by
    bucket — never a global sort, never a one-partition shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = _scored(docs).select(
        "doc_id", "n_tokens", dround(F.col("q"), 4).alias("qb")
    )
    buckets = scored.groupBy("qb").agg(F.sum("n_tokens").alias("bt"))
    bw = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bw_all = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # qb is distinct per bucket row, so the rows-frame == range-frame; the
    # un-partitioned windows are safe here because the bucket table is
    # bounded (rounded scores), not corpus-proportional. The budget
    # (fraction of total tokens) is the full-frame sum over the SAME
    # bucket table — computing it here instead of as a separate agg branch
    # saves a third corpus scan (verified in PLANS.md / executed plan).
    cls = (
        buckets.withColumn("cum_after", F.sum("bt").over(bw))
        .withColumn("cum_before", F.col("cum_after") - F.col("bt"))
        .withColumn(
            "budget",
            F.floor(F.sum("bt").over(bw_all) * F.lit(BUDGET_FRACTION)),
        )
        .select("qb", "cum_after", "cum_before", "budget")
    )
    dw = Window.partitionBy("qb").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = scored.withColumn("run", F.sum("n_tokens").over(dw))
    return (
        run.join(F.broadcast(cls), "qb")
        .filter(
            (F.col("cum_after") <= F.col("budget"))
            | (
                (F.col("cum_before") < F.col("budget"))
                & (F.col("run") <= F.col("budget") - F.col("cum_before"))
            )
        )
        .select("doc_id", "n_tokens", F.col("qb").alias("quality_score"))
    )


# ---------------------------------------------------------------------------
# Training-export operators: sequence packing, split assignment, source
# mixture weights, benchmark decontamination. Beyond-reference surface —
# the steps between "curated corpus" and "training batches".
# ---------------------------------------------------------------------------

SEQ_LEN = 512
N_PACK_SHARDS = 16


def pack_shard_expr(doc_id_col: str = "doc_id") -> F.Column:
    """Canonical packing-shard assignment (first md5 hex char mod
    N_PACK_SHARDS) — THE formula; every packer/repacker/takedown site
    uses this helper (and its SQL twin below) so the shard mapping can
    never drift between modules."""
    h = F.md5(F.col(doc_id_col).cast("string"))
    return (F.ascii(F.substring(h, 1, 1)) % N_PACK_SHARDS).cast("long")


def sql_pack_shard(doc_id_col: str = "doc_id") -> str:
    return (
        f"CAST(ascii(substr(md5({doc_id_col}::VARCHAR), 1, 1))"
        f" % {N_PACK_SHARDS} AS BIGINT)"
    )


@register(
    "corpus_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             len({sql_tokens()}) AS n_tokens,
             md5(doc_id::VARCHAR) AS h
      FROM documents
    ), sharded AS (
      SELECT doc_id, n_tokens, h,
             CAST(ascii(substr(h, 1, 1)) % {N_PACK_SHARDS} AS BIGINT)
               AS shard
      FROM toks
    ), off AS (
      SELECT doc_id, shard, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS tok_off
      FROM sharded
    )
    SELECT doc_id, shard,
           tok_off // {SEQ_LEN} AS pack_id,
           tok_off % {SEQ_LEN} AS pack_offset,
           n_tokens
    FROM off
    """,
    tags=("curation", "packing"),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training export: concatenate documents in a
    deterministic pseudo-random order into fixed {SEQ_LEN}-token windows,
    reporting each document's (shard, pack, offset) placement.

    Scale shape: a single global token stream would need a global cumsum
    (one-partition window). Instead documents hash into
    ``N_PACK_SHARDS`` independent streams (md5 prefix — deterministic,
    engine-portable) and the cumulative offset windows are PARTITIONED
    BY shard, so packing parallelizes with the shard count and each
    training shard is an independently reproducible token stream. At
    100 TB, raise the shard count to O(cluster cores); placement stays
    deterministic for any setting.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    base = docs.select(
        "doc_id",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
        h.alias("h"),
        pack_shard_expr().alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = base.withColumn(
        "offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return off.select(
        "doc_id",
        "shard",
        F.expr(f"offset div {SEQ_LEN}").alias("pack_id"),
        (F.col("offset") % SEQ_LEN).alias("pack_offset"),
        "n_tokens",
    )


@register(
    "corpus_train_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) IN ('d', 'e')
                THEN 'val'
                WHEN substr(md5(doc_id::VARCHAR), 1, 1) = 'f'
                THEN 'test'
                ELSE 'train' END AS split,
           len({sql_tokens()}) AS n_tokens
    FROM documents
    """,
    tags=("curation", "sampling"),
)
def corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5 bucket (13/16
    train, 2/16 val, 1/16 test ≈ 81/12.5/6.25%). Row-local, zero
    shuffle, stable under any repartitioning/backfill — the property
    `rand()`-based splits lack (see ops/sampling.py module docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return docs.select(
        "doc_id",
        F.when(b.isin("d", "e"), "val")
        .when(b == "f", "test")
        .otherwise("train")
        .alias("split"),
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )


@register(
    "corpus_group_split",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN substr(md5(source), 1, 1) IN ('d', 'e') THEN 'val'
                WHEN substr(md5(source), 1, 1) = 'f' THEN 'test'
                ELSE 'train' END AS split
    FROM documents
    """,
    tags=("curation", "sampling", "leakage"),
)
def corpus_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: the hash bucket is computed on
    the GROUP key (source), not the document id, so every document from
    one source lands in the same split. Per-document splits
    (`corpus_train_split`) leak: near-duplicate documents — same outlet
    republishing, boilerplate siblings — straddle train and eval, and
    eval scores inherit memorized text. Group-splitting by origin is the
    standard mitigation (the same reason dedup runs before split).

    Still row-local and zero-shuffle: the group key is already a column
    of the row. The stronger variant — grouping by near-dup CLUSTER —
    is shipped as `corpus_cluster_split`: it composes
    `near_dup_clusters` (exact-oracled) with this same hash rule on the
    cluster representative id. `split_leakage_audit` measures what each
    rule leaves on the table: this corpus's near-dup pairs SPAN sources
    (syndicated text), so source grouping reduces but does not
    eliminate leakage, while the cluster key eliminates it by
    construction. Source grouping remains the zero-cost default when no
    dedup pass has run yet; cluster keying is the complete fix once one
    has."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("source")), 1, 1)
    return docs.select(
        "doc_id",
        "source",
        F.when(b.isin("d", "e"), "val")
        .when(b == "f", "test")
        .otherwise("train")
        .alias("split"),
    )


def _cluster_split_oracle() -> str:
    # Built from the dedup module's shared SQL fragments so the closure
    # and the bucket rule can never drift from the audit queries'
    # (cycle-free: dedup.queries does not import curation).
    from newsflow.dedup.queries import _CLUSTER_ORACLE, _sql_split_case

    rep = "coalesce(c.keeper, d.doc_id)"
    return f"""
    WITH comp AS ({_CLUSTER_ORACLE})
    SELECT d.doc_id,
           {rep} AS cluster_rep,
           {_sql_split_case(rep + "::VARCHAR")} AS split
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """


def cluster_keyed_split(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The pair-source-agnostic core of `corpus_cluster_split`:
    (doc_id, cluster_rep, split) for ANY verified near-dup pair frame
    (doc_a, doc_b). The registered query feeds it the exact 3-gram
    Jaccard pairs (oracle-able); at 100 TB feed it the banded-LSH tier
    (`native_minhash_near_dup_pairs`) — identical output whenever LSH
    recall holds (asserted at check SF by
    tests/test_curation.py::test_cluster_split_lsh_pair_source_agrees,
    and gated by tests/test_recall_gates.py)."""
    from newsflow.dedup.cluster import near_dup_clusters as _clusters
    from newsflow.dedup.queries import split_split_of

    clusters = _clusters(pairs).select(
        F.col("doc_id").alias("c_doc"), "keeper"
    )
    rep = F.coalesce(F.col("keeper"), F.col("doc_id"))
    return docs.join(
        clusters, docs.doc_id == clusters.c_doc, "left"
    ).select(
        "doc_id",
        rep.alias("cluster_rep"),
        split_split_of(
            F.substring(F.md5(rep.cast("string")), 1, 1)
        ).alias("split"),
    )


@register(
    "corpus_cluster_split",
    oracle=_cluster_split_oracle(),
    tags=("curation", "sampling", "leakage", "dedup", "cluster"),
)
def corpus_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE train/val/test split: the hash bucket is computed on
    the near-dup CLUSTER representative (connected-component keeper =
    min doc_id over the exact 3-gram-Jaccard ≥ 0.8 graph; singletons
    are their own representative), so every member of a near-duplicate
    cluster lands in the same split — the complete fix for the
    contamination `split_leakage_audit` measures: its by_cluster row is
    exactly zero BY CONSTRUCTION because both endpoints of every
    near-dup pair share a representative and therefore a split.

    Composition, exactly as `corpus_group_split` documents: the
    (doc_id, keeper) map from `near_dup_clusters` left-joined onto the
    corpus, then the same md5 13/2/1-sixteenths bucket rule applied to
    the representative id. Split stability is inherited from the
    deterministic representative; adding a new member to a cluster
    never moves existing members across splits (min doc_id only changes
    if an EARLIER id joins — the standard keeper convention).

    Scale shape: one cached shingle projection (shared with the dedup
    audits), the LSH-boundable pair pipeline, an O(edges)-per-iteration
    label propagation, then a single doc_id-keyed left join — no
    all-pairs stage anywhere. At 100 TB the pair source swaps to the
    banded-LSH tier (`near_dup_clusters_lsh`), shape unchanged — pass
    it to `cluster_keyed_split`, which this query is a thin binding
    of."""
    from newsflow.dedup.core import jaccard_pairs_from_arrays
    from newsflow.dedup.queries import _shared_shingle_arrays

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_from_arrays(
        _shared_shingle_arrays(spark, sf_dir), threshold=0.8
    )
    return cluster_keyed_split(docs, pairs)


MIX_ALPHA = 0.5  # temperature exponent: upweights low-resource sources


@register(
    "corpus_source_mixture",
    oracle=f"""
    WITH s AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len({sql_tokens()})) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), sh AS (
      SELECT source, n_docs, tokens,
             tokens / sum(tokens) OVER () AS raw_share
      FROM s
    )
    SELECT source, n_docs, tokens,
           {sql_dround("raw_share", 6)} AS share,
           {sql_dround("sqrt(raw_share) / sum(sqrt(raw_share)) OVER ()", 6)}
             AS weight
    FROM sh
    """,
    tags=("curation", "sampling"),
)
def corpus_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture sampling weights: per-source token share and a
    temperature-adjusted weight ∝ share^{MIX_ALPHA} (the standard
    low-resource upweighting used when mixing training-corpus domains).

    The un-partitioned normalization windows run over the per-SOURCE
    aggregate — bounded cardinality, not corpus-proportional — so the
    single-partition window is a few rows at any scale (same argument as
    the bucket table in corpus_token_budget_sample).
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_expr("text"))).cast("long").alias("tokens"),
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.col("tokens") / F.sum("tokens").over(full)
    weight = F.sqrt(share) / F.sum(F.sqrt(share)).over(full)
    return s.select(
        "source",
        "n_docs",
        "tokens",
        dround(share, 6).alias("share"),
        dround(weight, 6).alias("weight"),
    )


CONTAM_NGRAM = 8
PROBE_MOD = 49
# Hard cap on the number of probe DOCUMENTS (doc_id < PROBE_MOD *
# PROBE_MAX_DOCS, stepping by PROBE_MOD → at most PROBE_MAX_DOCS probe
# docs at ANY corpus size). Without the cap the probe side is
# corpus-proportional (n_docs / PROBE_MOD) and F.broadcast of it would
# collect a linearly-growing frame to the driver at 100 TB (ADVICE r2).
# A real decontamination run replaces this synthetic probe set with the
# actual eval benchmarks, which are fixed-size by nature.
PROBE_MAX_DOCS = 16


@register(
    "benchmark_contamination",
    oracle=f"""
    WITH sh AS ({sql_shingles_rel(n=CONTAM_NGRAM)}),
    probes AS (
      SELECT doc_id AS probe_id, s FROM sh
      WHERE doc_id % {PROBE_MOD} = 0
        AND doc_id < {PROBE_MOD * PROBE_MAX_DOCS}
    )
    SELECT d.doc_id, count(DISTINCT p.probe_id) AS n_probe_hits
    FROM sh d JOIN probes p USING (s)
    WHERE d.doc_id <> p.probe_id
    GROUP BY d.doc_id
    """,
    tags=("curation", "dedup"),
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: documents sharing any
    {CONTAM_NGRAM}-token shingle with a probe set (every {PROBE_MOD}th
    document, capped at {PROBE_MAX_DOCS} docs, stands in for a held-out
    eval set), with the count of distinct probes hit — the n-gram-overlap
    contamination check every LLM training pipeline runs before export.

    Scale shape: the probe set is BOUNDED (≤ {PROBE_MAX_DOCS} documents'
    shingles regardless of corpus size — the cap is what makes the
    broadcast legitimate), so it BROADCASTS; the corpus side streams its
    shingles through a map-side broadcast-hash join + partial-agg count.
    No shuffle touches the corpus-proportional shingle stream except the
    final per-doc count over matching rows only.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", tokens_expr("text").alias("t")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_expr("t", n=CONTAM_NGRAM))
        ).alias("s"),
    )
    probes = (
        sh.filter(
            (F.col("doc_id") % PROBE_MOD == 0)
            & (F.col("doc_id") < PROBE_MOD * PROBE_MAX_DOCS)
        )
        .select(F.col("doc_id").alias("probe_id"), "s")
    )
    return (
        sh.join(F.broadcast(probes), "s")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("doc_id")
        .agg(F.countDistinct("probe_id").alias("n_probe_hits"))
    )


def curate_exact_stage(filtered: DataFrame) -> DataFrame:
    """Exact dedup keeping the min-doc_id row per distinct text.

    Single min_by hash aggregation on the 16-byte text hash — one shuffle,
    map-side partials, no keeper-list broadcast (that list is
    corpus-proportional at 100 TB) and no window sort.
    """
    row = F.struct("doc_id", "lang", "source", "text", "n_tokens", "q")
    return (
        filtered.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min_by(row, F.col("doc_id")).alias("r"))
        .select("r.*")
    )


# --------------------------------------------------------------------------
# End-to-end training export: curate -> split -> pack -> JSONL shards
# --------------------------------------------------------------------------


def export_training_shards(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, int]:
    """The terminal pipeline stage: run the curation funnel, assign the
    deterministic md5 train/val/test split, attach each kept document's
    (shard, pack, offset) packing placement, and write
    split-partitioned gzip JSONL shards — the artifact a tokenizer /
    trainer consumes.

    One lazy plan end-to-end: curation gates push to the scan, the
    split/pack columns are row-local + shard-partitioned windows, and
    the write is a distributed ``partitionBy(split)`` JSONL export (no
    driver collect anywhere). Returns per-split document counts read
    back from the written artifact, so the count doubles as a write
    verification.
    """
    import pyspark.sql.functions as F  # local alias for clarity

    from newsflow.sources.sinks import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents")
    kept = curate(docs, spark).select("doc_id", "source", "n_tokens")
    # curate() projects text away (only survivors' text is re-read, and
    # only here at the export boundary)
    with_text = kept.join(docs.select("doc_id", "text"), "doc_id")
    split_b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(split_b.isin("d", "e"), "val")
        .when(split_b == "f", "test")
        .otherwise("train")
    )
    h = F.md5(F.col("doc_id").cast("string"))
    base = with_text.select(
        "doc_id",
        "text",
        "source",
        split.alias("split"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        h.alias("h"),
        pack_shard_expr().alias("shard"),
    )
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = base.withColumn(
        "offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    out = off.select(
        "doc_id",
        "text",
        "source",
        "split",
        "n_tokens",
        "shard",
        F.expr(f"offset div {SEQ_LEN}").alias("pack_id"),
        (F.col("offset") % SEQ_LEN).alias("pack_offset"),
    )
    out.write.mode("overwrite").partitionBy("split").option(
        "compression", "gzip"
    ).json(out_dir)
    back = read_jsonl(spark, out_dir)
    return {
        r.split: r.n
        for r in back.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
