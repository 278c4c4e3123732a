"""Registered dedup queries with DuckDB oracles (documents table)."""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from newsflow import artifacts
from newsflow.dedup import core, embedding, minhash, simhash
from newsflow.functions.scalars import sql_dround
from newsflow.functions.text import sql_shingles_rel, sql_tokens
from newsflow.registry import register
from newsflow.tables import load_table, spread

_EMB_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)

# Deterministic 1/2 md5-prefix doc sample shared by the *_sampled audit
# twins (`ops.sampling.hash_sample` with keep_prefixes 0-7). The check-SF
# fraction is 1/2 so the sampled pair set stays non-empty at sf0.01 (the
# empty-oracle weak-signal rule); production audits at 100 TB run the
# same machinery at 1/16 or smaller, where the quadratic shingle join
# shrinks by the fraction SQUARED (both pair endpoints must survive).
SAMPLE_PREFIXES: tuple[str, ...] = tuple("01234567")
_SQL_SAMPLED_DOCS = (
    "SELECT * FROM documents WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ("
    + ", ".join(f"'{p}'" for p in SAMPLE_PREFIXES)
    + ")"
)


def _shingle_pair_ctes(rel: str, op: str) -> str:
    """Shared sh/sizes/common CTE bodies over ``rel`` — ``op`` is the
    pair predicate ('<' symmetric, '<>' directed)."""
    sample = f"sdocs AS ({_SQL_SAMPLED_DOCS}),\n" if rel == "sdocs" else ""
    return f"""{sample}sh AS ({sql_shingles_rel(n=3, rel=rel)}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id {op} b.doc_id
  GROUP BY 1, 2
)"""


def _jaccard_oracle(rel: str = "documents") -> str:
    return f"""
WITH {_shingle_pair_ctes(rel, "<")}
SELECT doc_a, doc_b, n_common,
       n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8
"""


_JACCARD_ORACLE = _jaccard_oracle()


@register(
    "dedup_exact_keep_min",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS doc_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup",),
)
def dedup_exact_keep_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one keeper per distinct text (hash groupBy, min-by-key)."""
    return core.exact_dedup_keep_min(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS text_hash,
           count(*) AS dup_count,
           min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) >= 2
    """,
    tags=("dedup",),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups (byte-identical text occurring ≥ 2×)."""
    return core.exact_duplicate_groups(load_table(spark, sf_dir, "documents"))


@register("ngram_jaccard_pairs", oracle=_JACCARD_ORACLE, tags=("dedup",))
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8)."""
    return core.jaccard_pairs(
        spread(load_table(spark, sf_dir, "documents")), n=3, threshold=0.8
    )


@register(
    "neardup_embedding_disagreement",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE})
    SELECT p.doc_a, p.doc_b, p.jaccard,
           {sql_dround(_EMB_COS_SQL, 6)} AS cosine_sim
    FROM pairs p
    JOIN embeddings a ON a.vec_id = p.doc_a
    JOIN embeddings b ON b.vec_id = p.doc_b
    WHERE {sql_dround(_EMB_COS_SQL, 6)} < 0.9
    """,
    tags=("dedup", "embedding", "quality"),
)
def neardup_embedding_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency audit: text pairs that are near-duplicates
    by 3-gram Jaccard (≥ 0.8) whose embeddings nonetheless disagree
    (cosine < 0.9) — each hit is an embedding-pipeline defect (stale
    vector, wrong row alignment, encoder drift). The near-dup pair set
    is tiny relative to the corpus, so the embedding join is two hash
    joins on the pair ids, not a vector self-join."""
    from newsflow.sim.knn import as_double_array, dot_expr, norm_expr

    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = core.jaccard_pairs(docs, n=3, threshold=0.8)
    embs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    ea = embs.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
    eb = embs.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"))
    cos = dot_expr(F.col("va"), F.col("vb")) / (
        norm_expr(F.col("va")) * norm_expr(F.col("vb"))
    )
    from newsflow.functions.scalars import dround

    return (
        pairs.join(ea, "doc_a")
        .join(eb, "doc_b")
        .withColumn("cosine_sim", dround(cos, 6))
        .filter(F.col("cosine_sim") < 0.9)
        .select("doc_a", "doc_b", "jaccard", "cosine_sim")
    )


def _containment_oracle(rel: str = "documents") -> str:
    return f"""
WITH {_shingle_pair_ctes(rel, "<>")}
SELECT doc_a, doc_b, n_common,
       n_common::DOUBLE / sa.n_sh AS containment
FROM common JOIN sizes sa ON sa.doc_id = doc_a
WHERE n_common::DOUBLE / sa.n_sh >= 0.9
"""


_CONTAINMENT_ORACLE = _containment_oracle()


@register("containment_dup_pairs", oracle=_CONTAINMENT_ORACLE, tags=("dedup",))
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-gram containment pairs (threshold 0.9) — catches short
    documents absorbed into longer ones, which symmetric Jaccard misses."""
    return core.containment_pairs(
        spread(load_table(spark, sf_dir, "documents")), n=3, threshold=0.9
    )


def _sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit sample: deterministic md5-prefix doc subset
    (`ops.sampling.hash_sample`, prefixes {SAMPLE_PREFIXES}) — the
    exact Spark twin of the oracles' ``sdocs`` CTE."""
    from newsflow.ops.sampling import hash_sample

    return hash_sample(
        spread(load_table(spark, sf_dir, "documents")),
        keep_prefixes=SAMPLE_PREFIXES,
    )


@register(
    "ngram_jaccard_pairs_sampled",
    oracle=_jaccard_oracle(rel="sdocs"),
    tags=("dedup", "sampling", "audit"),
)
def ngram_jaccard_pairs_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION form of the exact-Jaccard audit at 100 TB: the
    quadratic shingle self-join runs on a deterministic md5-prefix doc
    sample instead of the full corpus, shrinking the join by the sample
    fraction SQUARED (both endpoints must survive). The full-corpus twin
    (`ngram_jaccard_pairs`, 95 s at sf1) stays as the oracle baseline;
    sampled-vs-full agreement is recorded in BENCH_sf1.md. Fraction is
    1/2 at the check SFs so the result is non-empty at sf0.01; the same
    machinery runs at 1/16 or below in production."""
    return core.jaccard_pairs(
        _sampled_docs(spark, sf_dir), n=3, threshold=0.8
    )


@register(
    "containment_dup_pairs_sampled",
    oracle=_containment_oracle(rel="sdocs"),
    tags=("dedup", "sampling", "audit"),
)
def containment_dup_pairs_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sampled-audit form of the directed containment audit — same
    sample/fraction discipline as `ngram_jaccard_pairs_sampled`."""
    return core.containment_pairs(
        _sampled_docs(spark, sf_dir), n=3, threshold=0.9
    )


@register(
    "minhash_near_dup_pairs",
    # MinHash candidates are verified with EXACT Jaccard, and at
    # threshold 0.8 with 8 hash functions LSH recall is 1 on this data
    # (tests/test_dedup.py asserts candidates ⊇ exact pairs), so the exact
    # SQL is a true oracle for the full operator output.
    oracle=_JACCARD_ORACLE,
    tags=("dedup", "lsh"),
)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-expression MinHash near-dup pairs (the scale path):
    xxhash64 min-signatures + signature self-join + exact verification —
    ~3x the MLlib MinHashLSH variant's throughput, identical output."""
    return _verified_pairs(spark, sf_dir, minhash.native_minhash_candidates)


@register(
    "minhash_near_dup_pairs_cms_planned",
    # Same oracle as minhash_near_dup_pairs: the sketch informs only
    # the PHYSICAL plan (which route a bucket's pairs take), so the
    # verified output is identical by construction — the driver row
    # proves "correctness unchanged" for the sketch-informed plan.
    oracle=_JACCARD_ORACLE,
    tags=("dedup", "lsh", "sketch"),
)
def minhash_near_dup_pairs_cms_planned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`minhash_near_dup_pairs` under the SKETCH-INFORMED candidate
    plan (VERDICT r11 stretch #9): a Count-Min row-frequency sketch of
    the band keys routes est-heavy keys to a list-free star path
    BEFORE any collect_list runs, making the per-task buffer bound
    structural instead of after-the-fact
    (dedup/minhash.py::native_minhash_candidates_cms_planned; planted
    10x/20x skew measured in BENCH_sf1.md round-12)."""
    return _verified_pairs(
        spark, sf_dir, minhash.native_minhash_candidates_cms_planned
    )


def _shared_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle projection shared by the dedup audits, one cached
    frame per session and documents file (newsflow.artifacts). The audit
    queries are lazy (the consuming action runs after the builder
    returns), so no builder can unpersist its own cache; repeat
    invocations (the correctness driver runs dedup_lsh_recall_eval,
    near_dup_cluster_agreement and split_leakage_audit in one session)
    reuse one cached frame instead of stacking a new MEMORY_AND_DISK
    projection per call."""

    def build():
        docs = spread(load_table(spark, sf_dir, "documents"))
        # Cached (MEMORY_AND_DISK: spills, never OOMs) rather than
        # recomputed per consumer. Measured win: 1.86s -> 1.45s at sf0.1.
        arrays = artifacts.persisted(core.doc_shingle_arrays(docs, 3))
        return arrays, (arrays,)

    return artifacts.get(
        spark, "shingle_arrays", sf_dir, ("documents",), build
    )


def _verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    candidates: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Near-dup pairs of the documents table at Jaccard >= 0.8:
    ``candidates`` over the shared shingle projection, verified by exact
    Jaccard. Reading the artifact, not a query-scoped ``.cache()``, is
    what makes a rewritten documents file rebuild the projection."""
    arrays = _shared_shingle_arrays(spark, sf_dir)
    return minhash._verify_pairs(arrays, candidates(arrays), threshold=0.8)


def _exact_and_lsh_pair_pipelines(spark, sf_dir):
    """ONE cached shingle projection feeding BOTH the exact Jaccard pair
    pipeline and the banded-LSH tier — shared by the pair-level
    (`dedup_lsh_recall_eval`) and cluster-level
    (`near_dup_cluster_agreement`) audits so the two evaluations are
    guaranteed to compare the SAME LSH configuration (n=3, threshold
    0.8, default banding) against the same exact baseline."""
    exact = core.jaccard_pairs_from_arrays(
        _shared_shingle_arrays(spark, sf_dir), threshold=0.8
    )
    lsh = _verified_pairs(spark, sf_dir, minhash.native_minhash_candidates)
    return exact, lsh


# Minimum acceptable banded-LSH recall for any Jaccard band at/above the
# dedup threshold, at the check SF. The shipped 16-hash/r=2 banding
# measures 1.0; the floor is the tripwire a parameter change must not
# cross (VERDICT r4 #4 — the measurement exists, this makes it a GATE:
# tests/test_recall_gates.py proves a deliberate misconfiguration turns
# the suite red).
LSH_RECALL_FLOOR = 0.95


def minhash_recall_by_band(
    arrays: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """Per-0.05-Jaccard-band recall of an ARBITRARY MinHash banding
    against the exact pair baseline computed from the same shingle
    arrays — the parameterized core of `dedup_lsh_recall_eval`, exposed
    so the floor gate can evaluate candidate bandings (and prove bad
    ones fail) without touching the registered query's fixed config."""
    exact = core.jaccard_pairs_from_arrays(arrays, threshold=threshold)
    lsh_pairs = minhash._verify_pairs(
        arrays,
        minhash.native_minhash_candidates(arrays, num_hashes, rows_per_band),
        threshold,
    )
    lsh = lsh_pairs.select(
        F.col("doc_a").alias("la"),
        F.col("doc_b").alias("lb"),
        F.lit(1).alias("hit"),
    )
    band = F.least(F.floor(F.col("jaccard") * 20), F.lit(19)).cast("bigint")
    return (
        exact.join(
            lsh,
            (F.col("doc_a") == F.col("la")) & (F.col("doc_b") == F.col("lb")),
            "left",
        )
        .groupBy(band.alias("band20"))
        .agg(
            F.count(F.lit(1)).alias("n_exact_pairs"),
            F.count("hit").alias("n_hits"),
            (
                F.round(
                    F.count("hit").cast("double") / F.count(F.lit(1))
                    + F.lit(1e-9),
                    4,
                )
                + F.lit(0.0)
            ).alias("recall"),
        )
        .select(
            "band20",
            "n_exact_pairs",
            F.col("n_hits").alias("n_lsh_hits"),
            "recall",
        )
    )


def lsh_recall_floor_violations(recall_df: DataFrame) -> list:
    """Bands below LSH_RECALL_FLOOR. The band table is bounded (≤ 20
    rows by construction), so the collect is O(1).

    An EMPTY band table is itself a violation (ADVICE r5, mirroring
    `sim.queries.recall_floor_violations`): zero exact pairs means the
    corpus or threshold is misconfigured and the evaluation is vacuous —
    the gate must not pass on no evidence."""
    rows = recall_df.orderBy("band20").collect()
    if not rows:
        return ["recall frame is empty — evaluation is vacuous"]
    return [r for r in rows if r.recall < LSH_RECALL_FLOOR]


@register(
    "dedup_lsh_recall_eval",
    # The oracle encodes the claimed recall floor (1.0 per band at the
    # check SF): exact pairs grouped by Jaccard band, with n_lsh_hits
    # asserted equal to n_exact_pairs. The Spark side measures n_lsh_hits
    # from the ACTUAL banded-LSH output, so a driver-green row IS the
    # empirical proof of the floor — any band where the 16-hash/2-row
    # banding misses a true pair makes the hash mismatch and the row go
    # red. (The LSH side itself uses xxhash64 and cannot be replayed in
    # SQL; asserting its measured recall is the strongest oracle possible,
    # the same way seeded-model queries assert their golden metrics.)
    oracle=f"""
    WITH exact AS ({_JACCARD_ORACLE})
    SELECT CAST(least(floor(jaccard * 20), 19) AS BIGINT) AS band20,
           CAST(count(*) AS BIGINT) AS n_exact_pairs,
           CAST(count(*) AS BIGINT) AS n_lsh_hits,
           (round(1.0 + 1e-9, 4) + 0.0) AS recall
    FROM exact
    GROUP BY 1
    """,
    tags=("dedup", "lsh", "evaluation"),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Jaccard-band recall of the banded-MinHash LSH tier
    (`native_minhash_near_dup_pairs`, the 100 TB path that
    `near_dup_clusters_lsh` builds its edge set from) against the exact
    3-gram Jaccard pairs — dedup's twin of `knn_lsh_recall_eval`: the
    index-quality measurement shipped as a query, not buried in tests.

    Bands are 0.05-wide Jaccard buckets (band20 = floor(j*20), so 16 =
    [0.80, 0.85) ... 19 = [0.95, 1.0]); banded LSH recall falls toward
    the threshold boundary — 1-(1-j^r)^b is lowest at j=0.8 — so the
    per-band view localizes exactly where misses would appear first.
    Both engines derive the band from the same IEEE-double jaccard
    (ratio of small ints, multiplication exact), so banding is
    hash-stable with no rounding machinery.

    Scale shape: the expensive inputs are the two pair pipelines
    themselves (LSH-bounded and exact); the recall join and band
    aggregation touch only the true-pair set, and both pipelines share
    ONE cached shingle projection (the corpus is tokenized+shingled
    once, not once per pipeline). At 100 TB the exact side is the
    sampled audit (run over a stratified slice), the LSH side the
    production tier — the query shape is unchanged. The registered
    query is the parameterized `minhash_recall_by_band` at the shipped
    default banding; `lsh_recall_floor_violations` turns the same
    measurement into a tripwire (tests/test_recall_gates.py)."""
    return minhash_recall_by_band(_shared_shingle_arrays(spark, sf_dir))


SPAN_N = 20
SPAN_MIN_SHARED = 5
SPAN_MAX_GRAM_DF = 100


@register(
    "shared_span_pairs",
    # Constants interpolated (not literal) so the builder and oracle
    # cannot drift when SPAN_* change (ADVICE r5).
    oracle=f"""
    WITH d AS ({sql_shingles_rel(n=SPAN_N)}),
    g AS (
      SELECT s FROM d GROUP BY s
      HAVING count(*) > 1 AND count(*) <= {SPAN_MAX_GRAM_DF}
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared_grams
      FROM d a
      JOIN g USING (s)
      JOIN d b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared_grams FROM p
    WHERE n_shared_grams >= {SPAN_MIN_SHARED}
    """,
    tags=("dedup", "span"),
)
def shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (verbatim-substring) near-dup pairs: >= 5 shared
    distinct 20-token grams, boilerplate grams (doc frequency > 100)
    excluded — the Lee et al. ACL'22 dedup modality that doc-level
    Jaccard misses (a long quote inside two otherwise-unrelated
    articles). See `dedup/core.py::shared_span_pairs` for semantics and
    the scale argument.

    Runs the ``hash_grams`` form (xxhash64 keys — 5.3x the string
    form's throughput at sf0.1: 5.57 -> 1.06 s, an order of magnitude
    less shuffle volume at scale); the string-form SQL remains a true
    oracle because the two forms are output-equivalent at ~2^-64
    per-gram-pair collision odds, asserted exactly at the check SF by
    tests/test_dedup.py — the same verified-equivalence argument as
    `minhash_near_dup_pairs`' exact oracle."""
    return core.shared_span_pairs(
        spread(load_table(spark, sf_dir, "documents")),
        n=SPAN_N,
        min_shared=SPAN_MIN_SHARED,
        max_gram_df=SPAN_MAX_GRAM_DF,
        hash_grams=True,
    )


@register(
    "span_dedup_rewrite",
    # The rewrite is integer-exact (token positions, interval merges) and
    # string-exact (space-joined survivors), so the oracle replays the
    # whole pipeline: positional grams -> df/keeper stats -> removable
    # occurrences -> covered positions -> surviving tokens, plus the
    # merged-span count via a lag() window (a new span starts where the
    # gap to the previous removal start exceeds n). Constants
    # interpolated from SPAN_N / SPAN_MAX_GRAM_DF (ADVICE r5 rule).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, coalesce({sql_tokens("text")}, CAST([] AS VARCHAR[])) AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             array_to_string(t[i:i+{SPAN_N - 1}], ' ') AS s
      FROM toks, UNNEST(range(1, len(t) - {SPAN_N - 2})) AS u(i)
      WHERE len(t) >= {SPAN_N}
    ),
    stats AS (
      SELECT s, min(doc_id) AS keeper
      FROM (SELECT DISTINCT s, doc_id FROM grams)
      GROUP BY s
      HAVING count(*) >= 2 AND count(*) <= {SPAN_MAX_GRAM_DF}
    ),
    removable AS (
      SELECT DISTINCT g.doc_id, g.pos
      FROM grams g JOIN stats ON g.s = stats.s
      WHERE g.doc_id <> stats.keeper
    ),
    covered AS (
      SELECT DISTINCT doc_id, pos + o AS p
      FROM removable, UNNEST(range(0, {SPAN_N})) AS v(o)
    ),
    tok AS (
      SELECT doc_id, i AS p, t[i] AS tok
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    kept_agg AS (
      SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok.tok, ' ' ORDER BY tok.p) AS txt
      FROM tok LEFT JOIN covered c
        ON tok.doc_id = c.doc_id AND tok.p = c.p
      WHERE c.p IS NULL
      GROUP BY tok.doc_id
    ),
    spans AS (
      SELECT doc_id,
             CAST(count(*) FILTER (
               WHERE prev IS NULL OR pos > prev + {SPAN_N}
             ) AS BIGINT) AS n_spans
      FROM (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM removable
      )
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - coalesce(k.n_kept, 0) AS BIGINT)
             AS n_removed_tokens,
           coalesce(s.n_spans, CAST(0 AS BIGINT)) AS n_removed_spans,
           coalesce(k.txt, '') AS cleaned_text
    FROM toks t
    LEFT JOIN kept_agg k ON k.doc_id = t.doc_id
    LEFT JOIN spans s ON s.doc_id = t.doc_id
    """,
    tags=("dedup", "span", "rewrite"),
)
def span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup, REMOVAL form: excise every shared 20-token
    span from all but its keeper document (min doc_id), emitting the
    rewritten corpus — `shared_span_pairs` finds the affected docs,
    this produces the cleaned training text (Lee et al. ACL'22: cutting
    the duplicated substring beats dropping whole documents). One row
    per document with n_tokens / n_removed_tokens / n_removed_spans /
    cleaned_text; see `dedup/core.py::span_dedup_rewrite` for the
    row-local interval-merge rewrite and the scale argument.

    Runs the ``hash_grams`` form (xxhash64 keys — the gram string is
    never materialized; positions alone flow downstream); the
    string-form SQL remains a true oracle under the same verified-
    equivalence argument as `shared_span_pairs` (hash == string output
    asserted exactly at the check SF, tests/test_dedup.py)."""
    return core.span_dedup_rewrite(
        spread(load_table(spark, sf_dir, "documents")),
        n=SPAN_N,
        max_gram_df=SPAN_MAX_GRAM_DF,
        hash_grams=True,
    )


def _require_driver_heap_for_mllib_twin(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    max_docs: int = 20_000,
    min_heap: int = 4 * 1024**3,
) -> None:
    """Fail-loud session guard for the two MLlib API-parity twins
    (VERDICT r9 #8): under a bare 1 GB-driver local session at sf1-scale
    input, `near_dup_clusters_lsh` dies on an AQE-promoted
    broadcast-build OOM and `minhash_near_dup_pairs_mllib` on GC
    pressure (BENCH_sf1.md round-9 note). These are documented
    API-parity paths, not the scale path (the native banded tiers are)
    — so rather than a silent executor death minutes in, raise an
    actionable error up front when the corpus is past check-SF scale
    and the shared local JVM heap is small. Thresholds are deliberately
    coarse: the sf0.1 corpus (~5k docs) runs fine under 1 GB; the
    measured deaths are at ~50k docs. The heap bound is read FIRST —
    it's a free JVM getter — so well-sized drivers (the common case)
    never pay the docs.count() corpus scan this guard would otherwise
    add to every invocation (ADVICE r10)."""
    heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    if heap >= min_heap:
        return
    n = docs.count()
    if n > max_docs:
        raise RuntimeError(
            f"{query}: {n} docs with a {heap / 1024**3:.1f} GB JVM heap — "
            "this query needs a sized driver at this scale (session.py "
            "defaults to 8g; set NEWSFLOW_DRIVER_MEM or "
            "spark.driver.memory >= 4g). Measured failure modes under a "
            "bare 1g local session at sf1: AQE broadcast-build OOM / GC "
            "thrash (BENCH_sf1.md round-9 note)."
        )


@register(
    "minhash_near_dup_pairs_mllib",
    # Same exact-verification argument, same oracle.
    oracle=_JACCARD_ORACLE,
    tags=("dedup", "lsh", "mllib"),
)
def minhash_near_dup_pairs_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH (pyspark.ml) variant of the same operator — kept as
    the API-parity path and as a cross-check of the native signatures."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    _require_driver_heap_for_mllib_twin(
        spark, docs, "minhash_near_dup_pairs_mllib"
    )
    return _verified_pairs(spark, sf_dir, minhash.mllib_candidates)


from newsflow.dedup import simhash_md5  # noqa: E402


@register(
    "simhash_near_dup_pairs",
    # Exactly oracled since round 13 (VERDICT r12 Next #4): the
    # production query now draws its per-token bits from the
    # engine-shared md5 nibble derivation (bits="md5"), so the FULL
    # scale plan — single-aggregation voting, bucket-grouped pair
    # expansion, first-matching-band dedup, radius-3 pigeonhole — is
    # hash-checked end-to-end by simhash_md5's DuckDB twin SQL. The
    # xxhash64 derivation (one cheap native hash per token, not
    # reproducible in SQL) stays available as
    # simhash.simhash_near_dup_pairs(bits="xxhash64"), covered by the
    # pure-Python reference in tests/test_dedup.py; bit-source
    # interchange is semantics-preserving (SimHash needs only per-token
    # bit uniformity), so the oracle now guards the plan everyone runs.
    oracle=simhash_md5.oracle_sql(),
    tags=("dedup", "simhash"),
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (64-bit) near-dup pairs within Hamming distance 3 — the
    Manku et al. (WWW'07) operating point for web-scale near-dup
    detection; banded 4×16-bit pigeonhole, exact at this radius, via
    the bucket-grouped scale plan over engine-shared md5 bits.

    ``max_bucket=None`` explicitly: the registered query is the
    exact-pigeonhole form (comparable to the md5 oracle twin); the
    degenerate-band cap is the opt-in SCALE knob, not a default this
    query should silently inherit. `simhash_md5_near_dup_pairs` is the
    JOIN-plan twin against the SAME oracle — together the two driver
    rows prove the two physical strategies agree."""
    return simhash.simhash_near_dup_pairs(
        spread(load_table(spark, sf_dir, "documents")),
        max_hamming=3,
        max_bucket=None,
        bits="md5",
    )


@register(
    "simhash_md5_near_dup_pairs",
    oracle=simhash_md5.oracle_sql(),
    tags=("dedup", "simhash"),
)
def simhash_md5_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-verified SimHash twin: identical voting/banding/pigeonhole
    math to `simhash_near_dup_pairs` with md5-derived bits, so the whole
    algorithm is hash-checked against DuckDB (the xxhash64 tier remains
    the scale path; its bits aren't reproducible in SQL)."""
    return simhash_md5.near_dup_pairs(
        spread(load_table(spark, sf_dir, "documents"))
    )


@register(
    "embedding_cosine_near_dup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_dround(_EMB_COS_SQL, 6)} AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {sql_dround(_EMB_COS_SQL, 6)} >= 0.4
    """,
    tags=("dedup", "embedding"),
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs, threshold 0.4):
    the fifth dedup family (after exact/MinHash/SimHash/Jaccard), over the
    embeddings table's array<float> column."""
    return embedding.embedding_cosine_pairs(
        spread(load_table(spark, sf_dir, "embeddings")), threshold=0.4
    )


@register(
    "embedding_cosine_near_dup_lsh",
    # No oracle: LSH bucketing is seed-dependent (Spark-side random
    # hyperplanes). Precision is exact (every emitted pair is verified);
    # recall vs the exact variant is measured in tests/test_dedup.py.
    tags=("dedup", "embedding", "lsh"),
)
def embedding_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked embedding-cosine near-dup pairs — the at-scale variant
    (collision-pruned candidate set instead of the quadratic self-join)."""
    return embedding.embedding_cosine_pairs_lsh(
        spread(load_table(spark, sf_dir, "embeddings")), threshold=0.4
    )


def _cluster_oracle(rel: str = "documents") -> str:
    return f"""
WITH RECURSIVE
{_shingle_pair_ctes(rel, "<")},
p AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8
),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION ALL
  SELECT doc_b, doc_a FROM p
),
reach(doc_id, comp) AS (
  SELECT DISTINCT src, src FROM e
  UNION
  SELECT e.src, r.comp FROM reach r JOIN e ON e.dst = r.doc_id
)
SELECT doc_id, min(comp) AS keeper FROM reach GROUP BY doc_id
"""


_CLUSTER_ORACLE = _cluster_oracle()


@register(
    "near_dup_clusters",
    # The iterative label propagation's fixpoint IS the transitive
    # closure's per-node min — expressible as a DuckDB recursive CTE
    # (UNION-dedup guarantees termination), so the iterative DataFrame
    # algorithm gets an exact SQL oracle. The edge set is the EXACT
    # shingle-join pair graph (same as the oracle's), so the oracle is
    # exact by construction — not "exact conditional on LSH recall = 1"
    # (ADVICE r2: an LSH band miss would split a component and flip
    # every keeper in it). Convergence/union-find parity additionally
    # covered in tests/test_cluster.py.
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "cluster", "iterative"),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignments: connected components over the exact
    Jaccard pair graph — O(edges) per iteration instead of the
    quadratic-per-cluster pairwise listing. (The clustering operator is
    edge-source-agnostic; `near_dup_clusters_lsh` is the same component
    algorithm fed by the banded-LSH candidate path used at scale.)"""
    from newsflow.dedup.cluster import near_dup_clusters as _clusters

    pairs = core.jaccard_pairs(
        spread(load_table(spark, sf_dir, "documents")), n=3, threshold=0.8
    )
    return _clusters(pairs)


@register(
    "near_dup_clusters_sampled",
    oracle=_cluster_oracle(rel="sdocs"),
    tags=("dedup", "cluster", "iterative", "sampling", "audit"),
)
def near_dup_clusters_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-audit form of the exact-pair-graph clustering: connected
    components over the Jaccard pairs of the md5-prefix doc sample —
    the shape the full-corpus audit (`near_dup_clusters`, 197 s at sf1)
    runs at 100 TB. Component statistics (size distribution, keeper
    fraction) estimated from the sample track the full graph because the
    sample is uniform over docs; exact per-doc assignments exist only
    within the sample, stated."""
    from newsflow.dedup.cluster import near_dup_clusters as _clusters

    pairs = core.jaccard_pairs(
        _sampled_docs(spark, sf_dir), n=3, threshold=0.8
    )
    return _clusters(pairs)


@register(
    "near_dup_clusters_lsh",
    # Exactly oracled since round 13 (VERDICT r12 Next #4): the edge
    # set comes from MinHash banding (16 hashes, r=2, b=8), whose
    # recall is probabilistic in general — but the SAME edge set is
    # already driver-proven equal to the exact Jaccard pairs every
    # round (`minhash_near_dup_pairs`, oracle=_JACCARD_ORACLE, recall
    # 1 at threshold 0.8 on this banding: candidates ⊇ exact pairs is
    # asserted in tests/test_dedup.py and the exact-Jaccard verify
    # makes candidates ⊆ exact). Components are a deterministic
    # function of the edge set, so the recursive-CTE closure over the
    # exact pair graph is a sound oracle exactly as far as the pair
    # oracle is — a banding miss would flip BOTH rows red, pair first.
    # tests/test_cluster.py additionally asserts LSH-fed == exact-fed
    # components directly.
    # TRIAGE NOTE (ADVICE r13): the corpus regenerates every round, so
    # a near-threshold true pair missing all 8 bands (~(1-J^2)^8 ≈
    # 3e-4 per pair at J=0.8) is a POSSIBLE probabilistic false red on
    # this row, not a code bug. If this row (or
    # minhash_near_dup_pairs) goes red alone with every other dedup
    # row green, check banding recall on that corpus FIRST
    # (tests/test_dedup.py::test_native_minhash_candidates_superset_of_exact)
    # before bisecting code.
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "cluster", "iterative", "lsh"),
)
def near_dup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of near-dup clustering: connected components over
    the banded-MinHash candidate pairs (verified by exact Jaccard on
    candidates only) — no all-pairs shingle join anywhere in the plan."""
    from newsflow.dedup.cluster import near_dup_clusters as _clusters

    docs = spread(load_table(spark, sf_dir, "documents"))
    _require_driver_heap_for_mllib_twin(
        spark, docs, "near_dup_clusters_lsh"
    )
    pairs = _verified_pairs(spark, sf_dir, minhash.native_minhash_candidates)
    return _clusters(pairs)


@register(
    "near_dup_cluster_agreement",
    # Cluster-level twin of `dedup_lsh_recall_eval`'s claim: the oracle
    # restates the EXACT components (recursive-CTE closure) with
    # n_agree == n_members and identical == TRUE for every cluster — the
    # Spark side computes n_agree from the ACTUAL LSH-fed components, so
    # a single banding miss splits a component, changes a keeper, and
    # turns the row red. A driver-green row is the empirical proof that
    # the production cluster path (`near_dup_clusters_lsh`) produces the
    # exact clustering at the check SF — the end-to-end property the
    # pair-level recall floor only implies transitively.
    oracle=f"""
    WITH comp AS ({_CLUSTER_ORACLE})
    SELECT keeper,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) AS BIGINT) AS n_agree,
           TRUE AS identical
    FROM comp GROUP BY keeper
    """,
    tags=("dedup", "cluster", "lsh", "evaluation"),
)
def near_dup_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster agreement between the EXACT near-dup components and
    the LSH-fed production components: for each exact cluster (keyed by
    its keeper = min doc_id), how many members the LSH path assigns the
    SAME keeper, and whether the cluster survives intact.

    Scale shape: both component passes are O(edges)-per-iteration label
    propagations; the agreement join is one doc_id-keyed full-outer join
    plus a keeper-keyed aggregation. The two pair pipelines share one
    cached shingle projection (same discipline as
    `dedup_lsh_recall_eval`). At 100 TB the exact side runs over a
    stratified audit sample; the comparison shape is unchanged."""
    from newsflow.dedup.cluster import near_dup_clusters as _clusters

    exact_pairs, lsh_pairs = _exact_and_lsh_pair_pipelines(spark, sf_dir)
    exact = _clusters(exact_pairs).select(
        "doc_id", F.col("keeper").alias("k_exact")
    )
    lsh = _clusters(lsh_pairs).select(
        F.col("doc_id").alias("l_doc"), F.col("keeper").alias("k_lsh")
    )
    joined = exact.join(
        lsh, exact.doc_id == lsh.l_doc, "full_outer"
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("k_exact"), F.col("k_lsh")).alias("keeper")
        )
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count_if(
                F.col("k_exact").isNotNull()
                & (F.col("k_exact") == F.col("k_lsh"))
            ).alias("n_agree"),
        )
        .select(
            "keeper",
            "n_members",
            "n_agree",
            (F.col("n_agree") == F.col("n_members")).alias("identical"),
        )
    )


def _sql_split_case(expr: str) -> str:
    """The shared md5-bucket split rule (13/2/1 sixteenths) over an
    arbitrary SQL key expression — one definition so the per-document,
    by-source and by-cluster audits (and `corpus_cluster_split`'s
    oracle) can never drift apart on the bucketing."""
    return f"""
  CASE WHEN substr(md5({expr}), 1, 1) IN ('d', 'e') THEN 'val'
       WHEN substr(md5({expr}), 1, 1) = 'f' THEN 'test'
       ELSE 'train' END
"""


_SPLIT_CASE_DOC = _sql_split_case("doc_id::VARCHAR")
_SPLIT_CASE_SRC = _sql_split_case("source")


def split_split_of(b):
    """Column form of the md5-bucket split rule (see _sql_split_case)."""
    return (
        F.when(b.isin("d", "e"), "val")
        .when(b == "f", "test")
        .otherwise("train")
    )

# Exact near-dup components restated over an already-named `pairs` CTE
# (recursive closure, same shape as _CLUSTER_ORACLE but reusing the
# pair set the surrounding query has already computed).
_COMP_FROM_PAIRS_SQL = """
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, comp) AS (
  SELECT DISTINCT src, src FROM e
  UNION
  SELECT e.src, r.comp FROM reach r JOIN e ON e.dst = r.doc_id
),
comp AS (SELECT doc_id, min(comp) AS keeper FROM reach GROUP BY doc_id)
"""


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    {_COMP_FROM_PAIRS_SQL},
    ds AS (
      SELECT d.doc_id,
             {_sql_split_case("d.doc_id::VARCHAR")} AS s_doc,
             {_sql_split_case("d.source")} AS s_grp,
             {_sql_split_case("coalesce(c.keeper, d.doc_id)::VARCHAR")}
               AS s_clu
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    joined AS (
      SELECT a.s_doc AS ad, b.s_doc AS bd,
             a.s_grp AS ag, b.s_grp AS bg,
             a.s_clu AS ac, b.s_clu AS bc
      FROM pairs p
      JOIN ds a ON a.doc_id = p.doc_a
      JOIN ds b ON b.doc_id = p.doc_b
    )
    SELECT split_rule, n_cross_split_pairs, n_pairs FROM (
      SELECT 'per_document' AS split_rule,
             CAST(count_if(ad <> bd) AS BIGINT) AS n_cross_split_pairs,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM joined
      UNION ALL
      SELECT 'by_source',
             CAST(count_if(ag <> bg) AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM joined
      UNION ALL
      SELECT 'by_cluster',
             CAST(count_if(ac <> bc) AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM joined
    )
    """,
    tags=("curation", "dedup", "leakage", "evaluation"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED train/eval contamination: how many exact near-dup pairs
    (3-gram Jaccard ≥ 0.8) straddle a train/eval boundary under (a) the
    per-document hash split (`corpus_train_split`), (b) the
    source-grouped split (`corpus_group_split`) and (c) the
    cluster-keyed split (`corpus_cluster_split`) — the leakage each
    split rule actually leaves, as a driver-checked number instead of
    an argument.

    The check-SF numbers are the honest finding: most of this corpus's
    near-dup pairs SPAN sources (syndicated text republished by
    different outlets), so source-grouping alone reduces but does not
    eliminate leakage here. The by_cluster row closes the loop the
    round-4 audit opened: keying the split on the near-dup CLUSTER
    representative puts both endpoints of every near-dup pair in the
    same split BY CONSTRUCTION, so its cross-split count is exactly
    zero — and the row proves it as a measured number, in both engines,
    rather than as an argument in a docstring.

    Scale shape: the pair pipeline dominates (at 100 TB: the LSH tier or
    a stratified audit sample per the other eval queries) and is shared
    with the other audits through one cached shingle projection; the
    cluster pass is the same O(edges)-per-iteration label propagation as
    `near_dup_clusters`; the split columns are row-local hashes and the
    audit join touches only the pair set."""
    from newsflow.dedup.cluster import near_dup_clusters as _clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = core.jaccard_pairs_from_arrays(
        _shared_shingle_arrays(spark, sf_dir), threshold=0.8
    )
    clusters = _clusters(pairs).select(
        F.col("doc_id").alias("c_doc"), "keeper"
    )
    bd = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    bs = F.substring(F.md5(F.col("source")), 1, 1)
    rep = F.coalesce(F.col("keeper"), F.col("doc_id"))
    bc = F.substring(F.md5(rep.cast("string")), 1, 1)
    ds = docs.join(
        clusters, docs.doc_id == clusters.c_doc, "left"
    ).select(
        "doc_id",
        split_split_of(bd).alias("s_doc"),
        split_split_of(bs).alias("s_grp"),
        split_split_of(bc).alias("s_clu"),
    )
    joined = (
        pairs.join(
            ds.select(
                F.col("doc_id").alias("doc_a"),
                F.col("s_doc").alias("ad"),
                F.col("s_grp").alias("ag"),
                F.col("s_clu").alias("ac"),
            ),
            "doc_a",
        )
        .join(
            ds.select(
                F.col("doc_id").alias("doc_b"),
                F.col("s_doc").alias("bd"),
                F.col("s_grp").alias("bg"),
                F.col("s_clu").alias("bc"),
            ),
            "doc_b",
        )
    )

    # ONE aggregate over the pair set computes all three rules' cross
    # counts, then explodes to rows — a per-rule union of separate
    # aggregates would re-derive the whole pair+cluster pipeline once
    # per rule (3x the plan; the same single-scan trick as
    # expectations_report).
    flags = joined.agg(
        F.count_if(F.col("ad") != F.col("bd")).alias("x_doc"),
        F.count_if(F.col("ag") != F.col("bg")).alias("x_grp"),
        F.count_if(F.col("ac") != F.col("bc")).alias("x_clu"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    rules = F.array(
        F.struct(
            F.lit("per_document").alias("split_rule"),
            F.col("x_doc").alias("n_cross_split_pairs"),
        ),
        F.struct(
            F.lit("by_source").alias("split_rule"),
            F.col("x_grp").alias("n_cross_split_pairs"),
        ),
        F.struct(
            F.lit("by_cluster").alias("split_rule"),
            F.col("x_clu").alias("n_cross_split_pairs"),
        ),
    )
    return flags.select(F.explode(rules).alias("r"), "n_pairs").select(
        "r.split_rule", "r.n_cross_split_pairs", "n_pairs"
    )
