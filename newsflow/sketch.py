"""Count-Min sketch: mergeable frequency estimation + heavy hitters.

The classic at-scale frequency estimator (Cormode & Muthukrishnan 2005):
D hash rows x W buckets of additive counters. Point estimate = min over
rows of the hashed-to cell; never underestimates; per-row overcount is
bounded by e/W x N with probability 1 - 1/e (Markov on the colliding
mass), so the min over D independent rows fails the bound with
probability ~e^-D. The sketch is a sum — cells add — which is what makes
it the 100 TB shape: map-side partial sketches merge associatively, a
micro-batch's sketch ADDS onto the stored one (no rebuild, no read of
history), and two corpora's sketches union by elementwise +.

Engine-shared hashing (the ``dedup/simhash_md5.py`` discipline): row i's
bucket is the first three hex nibbles of md5('cms{i}:' || key) — an
integer in [0, 4096) that BOTH Spark and DuckDB compute exactly, so the
whole sketch, every estimate, and the heavy-hitter report are
hash-exact under the oracle (not just bound booleans: the DuckDB twin
rebuilds the same sketch and gets the same numbers).

Scale shape: one full-corpus pass keyed by the sketch key with map-side
combine (the same shuffle ``bigram_topk`` already pays), then a
V-distinct-key frame hashed row-locally into D*V rows and summed into
the D*W-cell sketch (W=4096, D=4 -> 16,384 rows; broadcast-sized by
construction). Estimation joins candidates against the BROADCAST
sketch — no shuffle of the corpus. The exact counts ride along here
only because this is the AUDIT form (the ``orders_approx_bounds``
pattern): production queries the sketch alone and re-certifies bounds
on a sampled slice.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from newsflow.registry import register
from newsflow.tables import load_table

# D=4 rows: bound-failure probability e^-4 ~ 1.8% per estimate.
CMS_SALTS = ("cms0:", "cms1:", "cms2:", "cms3:")
# W=4096 = 16^3: the bucket is EXACTLY the first three md5 nibbles — no
# modulo, so no bias and no 64-bit sign games in either engine.
CMS_WIDTH = 4096
# Integer-friendly overcount bound: (est - exact) * W <= k * N in exact
# int64 arithmetic both engines agree on bit-for-bit. Markov per row:
# P[row overcount > k*N/W] <= 1/k, rows independent, so the min-of-D
# estimate violates the bound with probability <= k^-D = 8^-4 ~ 2.4e-4.
# Measured max normalized overcount across sf0.001/0.01/0.1: 4.33 — a
# ~2x margin under k=8.
CMS_BOUND_NUM = 8
# Heavy-hitter threshold phi = 1.5/1000 of total key mass, kept as a
# ratio test (est * 1000 >= 15 * N) for the same exact-integer reason.
CMS_PHI_NUM = 15
CMS_PHI_DEN = 10_000

_HEX = "0123456789abcdef"


def cms_bucket_sql(salt: str, key: str = "g", nibbles: int = 3) -> str:
    """Engine-shared SQL text: row ``salt``'s bucket for column ``key``.

    The first ``nibbles`` md5 hex nibbles -> integer in [0,
    16^nibbles). ``instr``/``substr``/``md5``/``concat`` behave
    identically in Spark and DuckDB (proven by the simhash_md5 oracle
    family). Width is 16^nibbles — still modulo-free (no bias, no
    64-bit sign games): nibbles=3 is the 4096-bucket check-scale
    default; production widths in the millions are nibbles=5/6
    (1M/16M buckets), the same expression with more terms. Every
    multiplier is CAST to BIGINT so Spark's ANSI mode never sees an
    int32 overflow (the `_kmv_v12_sql` rule)."""
    h = f"md5(concat('{salt}', {key}))"
    nib = lambda p: f"(instr('{_HEX}', substr({h}, {p}, 1)) - 1)"  # noqa: E731
    terms = " + ".join(
        f"{nib(p)} * CAST({16 ** (nibbles - p)} AS BIGINT)"
        for p in range(1, nibbles + 1)
    )
    return f"({terms})"


def _hashed(
    counts: DataFrame, key: str, weight: str, nibbles: int = 3
) -> DataFrame:
    """counts x D rows with the row's bucket attached (row-local)."""
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("salt"),
                    F.expr(cms_bucket_sql(s, key, nibbles))
                    .cast("long")
                    .alias("bucket"),
                )
                for s in CMS_SALTS
            ]
        )
    ).alias("r")
    return counts.select(key, weight, rows).select(
        key, weight, F.col("r.salt").alias("salt"), F.col("r.bucket").alias("bucket")
    )


def cms_sketch(
    counts: DataFrame, key: str = "g", weight: str = "c", nibbles: int = 3
) -> DataFrame:
    """(salt, bucket, cell) sketch of a pre-aggregated (key, weight)
    frame. Cells are sums, so sketches MERGE: elementwise + across
    partitions, micro-batches, or corpora (asserted in
    tests/test_sketch.py). ``nibbles`` sets the width (16^nibbles
    buckets, see ``cms_bucket_sql``); sketches only merge at equal
    width."""
    return (
        _hashed(counts, key, weight, nibbles)
        .groupBy("salt", "bucket")
        .agg(F.sum(weight).cast("long").alias("cell"))
    )


def cms_estimate(
    counts: DataFrame, sketch: DataFrame, key: str = "g", weight: str = "c"
) -> DataFrame:
    """Point estimates for every key in ``counts``: min over rows of the
    hashed-to cell. The sketch side is broadcast (D*W rows by
    construction); the exact ``weight`` column rides along for the
    audit form.

    Candidates may be ARBITRARY keys, not just the ones that built the
    sketch: a (salt, bucket) cell no key ever hashed into is absent
    from the sparse sketch frame, so the join is LEFT and absent cells
    coalesce to 0 — exactly the dense-array semantics (an untouched
    counter reads 0, making the whole estimate 0 when any row's cell is
    empty). An inner join here would silently DROP such candidates
    (ADVICE r11), breaking the 'probe a broadcast sketch with novel
    keys' use the module advertises."""
    return (
        _hashed(counts, key, weight)
        .join(F.broadcast(sketch), ["salt", "bucket"], "left")
        .groupBy(key, weight)
        .agg(
            F.min(F.coalesce(F.col("cell"), F.lit(0)))
            .cast("long")
            .alias("est_cnt")
        )
    )


def _bigram_counts(docs: DataFrame) -> DataFrame:
    """Exact (bigram, count) over the documents' text — the same
    adjacent-token semantics as ``bigram_topk`` (ml/queries.py), built
    from the shared ``tokens_expr``/``shingles_expr`` pair (the n=2
    word shingle IS the bigram, CASE-guarded against sub-n rows)."""
    from newsflow.functions.text import shingles_expr, tokens_expr

    return (
        docs.select(tokens_expr("text").alias("t"))
        .select(F.explode(shingles_expr("t", 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


_SQL_BIGRAM_COUNTS = """
    toks AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    counts AS (
      SELECT g, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT t[i] || ' ' || t[i + 1] AS g
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
      )
      GROUP BY g
    )
"""


def _cms_oracle() -> str:
    nib = lambda p: (  # noqa: E731
        f"(instr('{_HEX}', substr(md5(concat(salt, g)), {p}, 1)) - 1)"
    )
    bucket = f"({nib(1)} * 256 + {nib(2)} * 16 + {nib(3)})"
    salts = ", ".join(f"('{s}')" for s in CMS_SALTS)
    return f"""
    WITH {_SQL_BIGRAM_COUNTS},
    total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
    hashed AS (
      SELECT g, c, salt, {bucket} AS bucket
      FROM counts CROSS JOIN (VALUES {salts}) s(salt)
    ),
    sketch AS (
      SELECT salt, bucket, CAST(sum(c) AS BIGINT) AS cell
      FROM hashed GROUP BY 1, 2
    ),
    est AS (
      SELECT h.g, h.c, CAST(min(s.cell) AS BIGINT) AS est_cnt
      FROM hashed h
      JOIN sketch s ON h.salt = s.salt AND h.bucket = s.bucket
      GROUP BY 1, 2
    )
    SELECT g AS bigram, c AS exact_cnt, est_cnt,
           (est_cnt - c) * {CMS_WIDTH} <= {CMS_BOUND_NUM} * total.n
             AS within_bound
    FROM est, total
    WHERE est_cnt * {CMS_PHI_DEN} >= {CMS_PHI_NUM} * total.n
    ORDER BY est_cnt DESC, bigram
    """


@register(
    "bigram_cms_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("sketch", "approx", "agg", "text"),
)
def bigram_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over document bigrams, EXACTLY oracled:
    the DuckDB twin rebuilds the identical md5-hashed sketch, so
    estimates (not just bound booleans) hash-match. Reports every
    bigram whose ESTIMATE clears phi = 0.15% of total bigram mass —
    estimate-thresholded, as a sketch-only production query would be,
    so threshold-straddling false positives from collision overcount
    appear honestly — with the exact count and the CMS overcount
    certificate (est - exact <= 8N/W; per-estimate failure probability
    8^-4, see CMS_BOUND_NUM; est >= exact is structural and asserted in
    tests/test_sketch.py). The synthetic corpus's bigram distribution
    is near-uniform (31-token base vocab), so the report is the
    threshold tail rather than a Zipf head — the math is identical.

    Scale: the exact-count pass is the audit anchor (the
    ``orders_approx_bounds`` pattern) — production keeps only the
    16,384-cell sketch, which merges across partitions/batches by
    elementwise sum (see ``cms_incremental_update``)."""
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint barrier: three consumers (total mass, sketch
    # build, estimate probe) re-derive `counts` otherwise — three full
    # corpus passes for a V-row product (the pipeline.py discipline:
    # checkpoint only small products, and this is vocab-sized).
    counts = _bigram_counts(docs).localCheckpoint(eager=True)
    total = counts.agg(F.sum("c").cast("long").alias("n"))
    sketch = cms_sketch(counts)
    est = cms_estimate(counts, sketch)
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_cnt") * CMS_PHI_DEN >= CMS_PHI_NUM * F.col("n"))
        .select(
            F.col("g").alias("bigram"),
            F.col("c").alias("exact_cnt"),
            "est_cnt",
            (
                (F.col("est_cnt") - F.col("c")) * CMS_WIDTH
                <= CMS_BOUND_NUM * F.col("n")
            ).alias("within_bound"),
        )
        .orderBy(F.desc("est_cnt"), "bigram")
    )


# The whole-corpus sketch rebuilt from scratch in DuckDB — the shared
# oracle for every incremental/streamed maintenance form (their merged
# result must equal the rebuild, which is exactly the additive
# property being certified).
CMS_FULL_SKETCH_ORACLE = f"""
    WITH {_SQL_BIGRAM_COUNTS},
    hashed AS (
      SELECT g, c, salt,
             ((instr('{_HEX}', substr(md5(concat(salt, g)), 1, 1)) - 1) * 256
            + (instr('{_HEX}', substr(md5(concat(salt, g)), 2, 1)) - 1) * 16
            + (instr('{_HEX}', substr(md5(concat(salt, g)), 3, 1)) - 1))
               AS bucket
      FROM counts CROSS JOIN (VALUES ('cms0:'), ('cms1:'), ('cms2:'),
                                     ('cms3:')) s(salt)
    )
    SELECT salt, CAST(bucket AS BIGINT) AS bucket,
           CAST(sum(c) AS BIGINT) AS cell
    FROM hashed GROUP BY 1, 2
    ORDER BY salt, bucket
    """


@register(
    "cms_incremental_update",
    # The mergeability contract AS a query: sketch(old docs) + sketch(new
    # docs), merged by elementwise cell sum, must equal the
    # sketch-of-everything the oracle builds from scratch. This is the
    # property that makes the sketch the 100 TB / streaming shape — the
    # update never reads history, only adds onto it.
    oracle=CMS_FULL_SKETCH_ORACLE,
    tags=("sketch", "approx", "incremental", "streaming"),
)
def cms_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance: the corpus is split into a base
    half and an arriving half (doc_id parity — deterministic), each
    sketched INDEPENDENTLY, and the stored sketch updated by the merge
    ``cell = base + delta`` (full outer on (salt, bucket), nulls as 0).
    The oracle rebuilds the whole-corpus sketch from scratch; equality
    proves the merge IS the rebuild — the additive property that lets a
    micro-batch update a 100 TB corpus's sketch without touching
    history."""
    docs = load_table(spark, sf_dir, "documents")
    base = cms_sketch(_bigram_counts(docs.filter(F.col("doc_id") % 2 == 0)))
    delta = cms_sketch(_bigram_counts(docs.filter(F.col("doc_id") % 2 == 1)))
    merged = (
        base.withColumnRenamed("cell", "b")
        .join(
            delta.withColumnRenamed("cell", "d"),
            ["salt", "bucket"],
            "full_outer",
        )
        .select(
            "salt",
            "bucket",
            (F.coalesce("b", F.lit(0)) + F.coalesce("d", F.lit(0)))
            .cast("long")
            .alias("cell"),
        )
    )
    return merged.orderBy("salt", "bucket")


# --- Bloom filter: membership pre-filter ----------------------------------

# k=4 salted hash positions per key; m = 128 words x 32 bits = 4096 bits.
# Sized for the check-scale index (250 keys -> load kn/m ~ 0.24, FPR
# ~0.2%). Past that design point, use the SHARDED form below
# (bloom_build_sharded: n_shards x this same 4096-bit geometry,
# ~BLOOM_BITS_PER_KEY bits/key at any n) — the fixed bitmap saturates,
# measured at 20x keys in BENCH_sf1.md (FPR -> 100%).
BLOOM_SALTS = ("bf0:", "bf1:", "bf2:", "bf3:")
BLOOM_WORDS = 128
BLOOM_BITS_PER_WORD = 32


def _bloom_pos_sql(salt: str, key: str) -> tuple[str, str]:
    """Engine-shared SQL for (word, bit) of one salted hash position.

    All-modulo arithmetic on md5 nibbles — no integer division, whose
    syntax differs between the engines (`div` vs `//`): word from the
    first three nibbles mod 128, bit from nibble 4 (low half) + nibble
    5's parity (high half) — uniform over 128 x 32."""
    h = f"md5(concat('{salt}', {key}))"
    nib = lambda p: f"(instr('{_HEX}', substr({h}, {p}, 1)) - 1)"  # noqa: E731
    word = f"(({nib(1)} * 256 + {nib(2)} * 16 + {nib(3)}) % {BLOOM_WORDS})"
    bit = f"({nib(4)} + 16 * ({nib(5)} % 2))"
    return word, bit


def bloom_build(keys: DataFrame, key: str = "k") -> DataFrame:
    """(word, bits) bitmap over the key column: k salted positions per
    key, OR-folded per word. <= BLOOM_WORDS rows — broadcast-sized by
    construction; built in one pass with map-side partial bit_or."""
    pos = F.explode(
        F.array(
            *[
                F.struct(
                    F.expr(w).cast("int").alias("word"),
                    F.expr(b).cast("int").alias("bit"),
                )
                for w, b in (
                    _bloom_pos_sql(s, key) for s in BLOOM_SALTS
                )
            ]
        )
    ).alias("p")
    return (
        keys.select(pos)
        .select(
            F.col("p.word").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), p.bit)").alias("m"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(m)").cast("long").alias("bits"))
    )


def bloom_probe(
    candidates: DataFrame, bloom: DataFrame, key: str = "k"
) -> DataFrame:
    """Adds ``might_contain``: true iff ALL k salted bits are set.
    The bitmap side is broadcast (<= BLOOM_WORDS rows); a candidate
    hitting an absent word row fails that position (left join, null
    bits = no bits set). No false negatives, structurally: building a
    key sets exactly the bits probing it checks.

    ``candidates`` must be row-unique (the verdict is attached by
    grouping on its full column set, so duplicate rows would
    collapse); dedupe upstream if the stream can repeat rows."""
    pos = F.explode(
        F.array(
            *[
                F.struct(
                    F.expr(w).cast("int").alias("word"),
                    F.expr(b).cast("int").alias("bit"),
                )
                for w, b in (
                    _bloom_pos_sql(s, key) for s in BLOOM_SALTS
                )
            ]
        )
    ).alias("p")
    hit = (
        F.min(
            F.expr(
                "shiftright(coalesce(bits, cast(0 as bigint)), p.bit) & 1"
            )
        )
        == 1
    )
    probed = candidates.select("*", pos).join(
        F.broadcast(bloom),
        F.col("p.word") == F.col("word"),
        "left",
    )
    return (
        probed.groupBy(*[c for c in candidates.columns])
        .agg(hit.alias("might_contain"))
    )


def _bloom_full_bitmap_oracle() -> str:
    """The whole-corpus (word, bits) bitmap over md5(text) keys,
    rebuilt from scratch — the oracle for every streamed/merged bitmap
    (bit_or is associative+idempotent, so any fold over any batch
    split must equal this rebuild exactly)."""
    wsql, bsql = (
        s.replace("'{S}'", "salt") for s in _bloom_pos_sql("{S}", "k")
    )
    return f"""
    WITH keys AS (SELECT DISTINCT md5(text) AS k FROM documents),
    pos AS (
      SELECT k, {wsql} AS word, {bsql} AS bit
      FROM keys CROSS JOIN (VALUES ('bf0:'), ('bf1:'), ('bf2:'),
                                   ('bf3:')) s(salt)
    )
    SELECT CAST(word AS INT) AS word, bit_or(1::BIGINT << bit) AS bits
    FROM pos GROUP BY 1
    ORDER BY word
    """


def _kmv_full_sketch_oracle() -> str:
    """The whole-corpus per-source KMV sketch (source, h, rn <= k),
    rebuilt from scratch — the oracle for streamed/merged per-source
    sketches (k-smallest-distinct is associative+idempotent, so any
    merge over any batch split must equal this rebuild exactly)."""
    return f"""
    WITH {_SQL_SOURCE_GRAMS},
    hashed AS (SELECT source, md5(g) AS h FROM grams),
    ranked AS (
      SELECT source, h,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY h
             ) AS INT) AS rn
      FROM hashed
    )
    SELECT source, h, rn FROM ranked
    WHERE rn <= {KMV_K}
    ORDER BY source, rn
    """


# --- Sharded Bloom: production sizing as code (VERDICT r11 Next #3) -------

# One global bitmap stops working long before 100 TB: at ~10^11 keys a
# ~12-bits/key filter is ~150 GB — not broadcastable, and a single
# bit_or aggregation over it is one hot reducer. The production shape
# keeps the PER-SHARD bitmap at the proven check-scale geometry
# (BLOOM_WORDS x 32 bits = 4096 bits, 3-nibble word math the oracle
# already certifies) and scales the SHARD COUNT with the key count:
# n_shards = ceil(n * bits_per_key / 4096). Each key hashes to one
# shard via an INDEPENDENT salted hash, so every shard is a 4096-bit
# filter over ~4096/bits_per_key keys — constant load, constant FPR,
# however large n grows. Build stays one pass (groupBy (shard, word)
# distributes across reducers instead of concentrating on word alone);
# probes join on (shard, word) — broadcast while the S x W frame is
# small, shard-co-partitioned sort-merge once it is not.
BLOOM_BITS_PER_KEY = 12
BLOOM_SHARD_BITS = BLOOM_WORDS * BLOOM_BITS_PER_WORD  # 4096


def _bloom_shard_sql(key: str, n_shards: str) -> str:
    """Engine-shared SQL: the key's shard id in [0, n_shards).

    Four md5 nibbles (65536 values) of an independent salt ('bfs:' —
    distinct from the BLOOM_SALTS position hashes, so shard choice and
    bit positions are uncorrelated) modulo ``n_shards``. The modulo
    bias is <= n_shards/65536 of a shard's mass — negligible at the
    shard counts a 4096-bit shard geometry implies. ``n_shards`` is SQL
    text: an int literal, or a column name supplied by a cross-joined
    params frame (how the oracled query derives it in-plan)."""
    h = f"md5(concat('bfs:', {key}))"
    nib = lambda p: f"(instr('{_HEX}', substr({h}, {p}, 1)) - 1)"  # noqa: E731
    v = (
        f"({nib(1)} * CAST(4096 AS BIGINT) + {nib(2)} * 256"
        f" + {nib(3)} * 16 + {nib(4)})"
    )
    return f"({v} % {n_shards})"


def _bloom_pos_struct(key: str):
    """The exploded (word, bit) position array shared by every builder
    and probe — one struct per BLOOM_SALTS entry."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.expr(w).cast("int").alias("word"),
                    F.expr(b).cast("int").alias("bit"),
                )
                for w, b in (_bloom_pos_sql(s, key) for s in BLOOM_SALTS)
            ]
        )
    ).alias("p")


def bloom_build_sharded(
    keys: DataFrame, key: str = "k", *, n_shards: int | str
) -> DataFrame:
    """(shard, word, bits) bitmap frame: each shard an independent
    4096-bit Bloom filter, built in ONE pass with map-side partial
    bit_or. Size n_shards for ~BLOOM_BITS_PER_KEY bits/key:
    ceil(n * bits_per_key / BLOOM_SHARD_BITS). ``n_shards`` may be a
    Python int or the name of a column already on ``keys`` (in-plan
    sizing; see ``bloom_sharded_fpr_eval``)."""
    ns = n_shards if isinstance(n_shards, str) else str(int(n_shards))
    return (
        keys.select(
            F.expr(_bloom_shard_sql(key, ns)).cast("int").alias("shard"),
            _bloom_pos_struct(key),
        )
        .select(
            "shard",
            F.col("p.word").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), p.bit)").alias("m"),
        )
        .groupBy("shard", "word")
        .agg(F.expr("bit_or(m)").cast("long").alias("bits"))
    )


def bloom_probe_sharded(
    candidates: DataFrame,
    bloom: DataFrame,
    key: str = "k",
    *,
    n_shards: int | str,
    broadcast: bool = True,
) -> DataFrame:
    """Adds ``might_contain`` against a sharded bitmap: true iff all k
    salted bits are set in the candidate's OWN shard. Same no-false-
    negatives structure as ``bloom_probe`` (left join, absent
    (shard, word) row = no bits set). ``broadcast=True`` ships the
    S x W-row bitmap to every task (right while it fits — 128 rows per
    shard); at shard counts where it no longer does, pass False and
    the equi-join on (shard, word) hash-partitions both sides — each
    reducer holds only its shards' words, the corpus never collects
    anywhere. ``candidates`` must be row-unique (the ``bloom_probe``
    contract)."""
    ns = n_shards if isinstance(n_shards, str) else str(int(n_shards))
    expanded = candidates.select(
        "*",
        F.expr(_bloom_shard_sql(key, ns)).cast("int").alias("shard"),
        _bloom_pos_struct(key),
    ).select(
        *candidates.columns,
        "shard",
        F.col("p.word").alias("word"),
        F.col("p.bit").alias("bit"),
    )
    right = F.broadcast(bloom) if broadcast else bloom
    hit = (
        F.min(
            F.expr("shiftright(coalesce(bits, cast(0 as bigint)), bit) & 1")
        )
        == 1
    )
    return (
        expanded.join(right, ["shard", "word"], "left")
        .groupBy(*[c for c in candidates.columns])
        .agg(hit.alias("might_contain"))
    )


def _bloom_sharded_oracle() -> str:
    wsql, bsql = (
        s.replace("'{S}'", "salt") for s in _bloom_pos_sql("{S}", "k")
    )
    shard = _bloom_shard_sql("k", "ns")
    fpr = "(round(fp * 100.0 / n + 1e-09, 2) + 0.0)"
    return f"""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT t[i] || ' ' || t[i + 1] AS k
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ),
    params AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(ceil(count(*) * {BLOOM_BITS_PER_KEY}.0
                       / {BLOOM_SHARD_BITS}) AS BIGINT) AS ns
      FROM grams
    ),
    probes AS (SELECT k || ':novel' AS k FROM grams),
    salts(salt) AS (VALUES ('bf0:'), ('bf1:'), ('bf2:'), ('bf3:')),
    fpos AS (
      SELECT k, {wsql} AS word, {bsql} AS bit FROM grams CROSS JOIN salts
    ),
    fbloom AS (
      SELECT word, bit_or(1::BIGINT << bit) AS bits FROM fpos GROUP BY 1
    ),
    fppos AS (
      SELECT k, {wsql} AS word, {bsql} AS bit FROM probes CROSS JOIN salts
    ),
    fhits AS (
      SELECT p.k,
             (count(*) FILTER (
                WHERE ((COALESCE(f.bits, 0) >> p.bit) & 1) = 1
              ) = 4) AS mc
      FROM fppos p LEFT JOIN fbloom f ON p.word = f.word
      GROUP BY 1
    ),
    spos AS (
      SELECT k, {shard} AS shard, {wsql} AS word, {bsql} AS bit
      FROM grams CROSS JOIN salts CROSS JOIN params
    ),
    sbloom AS (
      SELECT shard, word, bit_or(1::BIGINT << bit) AS bits
      FROM spos GROUP BY 1, 2
    ),
    sppos AS (
      SELECT k, {shard} AS shard, {wsql} AS word, {bsql} AS bit
      FROM probes CROSS JOIN salts CROSS JOIN params
    ),
    shits AS (
      SELECT p.k,
             (count(*) FILTER (
                WHERE ((COALESCE(f.bits, 0) >> p.bit) & 1) = 1
              ) = 4) AS mc
      FROM sppos p
      LEFT JOIN sbloom f ON p.shard = f.shard AND p.word = f.word
      GROUP BY 1
    )
    SELECT 'fixed_4096_bits' AS form, n AS n_keys,
           CAST(1 AS BIGINT) AS n_shards,
           CAST({BLOOM_SHARD_BITS} AS BIGINT) AS total_bits,
           fp AS false_positives, {fpr} AS fpr_pct,
           fp * 50 <= n AS fpr_le_2pct
    FROM (SELECT CAST(count(*) FILTER (WHERE mc) AS BIGINT) AS fp
          FROM fhits) CROSS JOIN params
    UNION ALL
    SELECT 'sharded_12bpk' AS form, n AS n_keys, ns AS n_shards,
           ns * {BLOOM_SHARD_BITS} AS total_bits,
           fp AS false_positives, {fpr} AS fpr_pct,
           fp * 50 <= n AS fpr_le_2pct
    FROM (SELECT CAST(count(*) FILTER (WHERE mc) AS BIGINT) AS fp
          FROM shits) CROSS JOIN params
    ORDER BY form
    """


@register(
    "bloom_sharded_fpr_eval",
    oracle=_bloom_sharded_oracle(),
    tags=("sketch", "dedup", "approx", "evaluation"),
)
def bloom_sharded_fpr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production Bloom sizing as CODE, certified by a deliberate
    saturation experiment (VERDICT r11: the fixed 4096-bit bitmap's
    value 'evaporates at the advertised scale' while its sizing rule
    lived in a docstring). The corpus's distinct-bigram vocabulary —
    thousands of keys, ~25x past the 4096-bit form's ~250-key design
    point — builds BOTH forms; a guaranteed-disjoint probe set (every
    gram suffixed ':novel', unreachable by the [a-z0-9]+ tokenizer)
    measures FPR, so every might_contain=true IS a false positive.
    The fixed form saturates (load kn/m >> 1, FPR -> ~100%:
    fpr_le_2pct false); the sharded form — n_shards derived IN-PLAN as
    ceil(n x 12 / 4096), ~12 bits/key however large n grows — holds
    FPR under 2% (analytic (1-e^(-1/3))^4 ~ 0.6%; the 4-sigma envelope
    is asserted in tests/test_sketch.py). EXACTLY oracled end-to-end:
    shard ids, bitmaps, every verdict, and the integer-arithmetic
    fpr_le_2pct certificate (fp x 50 <= n) hash-match the DuckDB
    rebuild.

    Scale shape: build is one pass with map-side partial bit_or into
    (shard, word) cells — no single hot bitmap reducer; probes join a
    broadcast S x W frame here, or shard-co-partitioned at shard
    counts past broadcast (``bloom_probe_sharded(broadcast=False)``)."""
    from newsflow.functions.text import shingles_expr, tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(tokens_expr("text").alias("t"))
        .select(F.explode(shingles_expr("t", 2)).alias("k"))
        .distinct()
        .localCheckpoint(eager=True)  # reused by both builds + probes
    )
    params = grams.agg(F.count(F.lit(1)).alias("cnt")).select(
        F.col("cnt").cast("long").alias("n"),
        F.expr(
            f"CAST(ceil(cnt * {BLOOM_BITS_PER_KEY}.0"
            f" / {BLOOM_SHARD_BITS}) AS BIGINT)"
        ).alias("ns"),
    )
    probes = grams.select(F.concat("k", F.lit(":novel")).alias("k"))

    fixed_fp = (
        bloom_probe(probes, bloom_build(grams))
        .agg(
            F.sum(F.when(F.col("might_contain"), 1).otherwise(0))
            .cast("long")
            .alias("fp")
        )
    )
    skeys = grams.crossJoin(F.broadcast(params))
    sprobes = probes.crossJoin(F.broadcast(params))
    sharded_fp = (
        bloom_probe_sharded(
            sprobes,
            bloom_build_sharded(skeys, n_shards="ns"),
            n_shards="ns",
        )
        .agg(
            F.sum(F.when(F.col("might_contain"), 1).otherwise(0))
            .cast("long")
            .alias("fp")
        )
    )
    fpr = F.round(F.col("fp") * 100.0 / F.col("n") + F.lit(1e-09), 2) + F.lit(
        0.0
    )
    holds = (F.col("fp") * 50 <= F.col("n")).alias("fpr_le_2pct")
    fixed_row = fixed_fp.crossJoin(F.broadcast(params)).select(
        F.lit("fixed_4096_bits").alias("form"),
        F.col("n").alias("n_keys"),
        F.lit(1).cast("long").alias("n_shards"),
        F.lit(BLOOM_SHARD_BITS).cast("long").alias("total_bits"),
        F.col("fp").alias("false_positives"),
        fpr.alias("fpr_pct"),
        holds,
    )
    sharded_row = sharded_fp.crossJoin(F.broadcast(params)).select(
        F.lit("sharded_12bpk").alias("form"),
        F.col("n").alias("n_keys"),
        F.col("ns").alias("n_shards"),
        (F.col("ns") * BLOOM_SHARD_BITS).cast("long").alias("total_bits"),
        F.col("fp").alias("false_positives"),
        fpr.alias("fpr_pct"),
        holds,
    )
    return fixed_row.unionAll(sharded_row).orderBy("form")


# The stored-corpus / arriving-batch split is EXISTING_MAX_DOC_ID from
# newsflow.corpus — imported, not copied (ADVICE r10's hard-coded-twin
# hazard), so the Spark side and the oracle can never drift apart.
from newsflow.corpus import EXISTING_MAX_DOC_ID as _BLOOM_SPLIT  # noqa: E402

_BLOOM_RESUB = 50  # first N index docs re-submitted under new ids


@register(
    "bloom_dedup_prefilter",
    oracle=f"""
    WITH idx AS (
      SELECT md5(text) AS k FROM documents WHERE doc_id < {_BLOOM_SPLIT}
    ),
    -- Re-submitted ids start past the corpus's real id range, DERIVED
    -- from the data (ADVICE r11: a fixed +10000 collides with any
    -- corpus whose ids reach 10000, making the ORDER BY doc_id tie
    -- order engine-dependent).
    mx AS (SELECT max(doc_id) + 1 AS off FROM documents),
    batch AS (
      SELECT d.doc_id + mx.off AS doc_id, md5(text) AS k
      FROM documents d, mx
      WHERE d.doc_id < {_BLOOM_RESUB}                -- re-submissions
      UNION ALL
      SELECT doc_id, md5(text) AS k
      FROM documents WHERE doc_id >= {_BLOOM_SPLIT}  -- novel docs
    ),
    pos AS (
      SELECT k, salt,
             {_bloom_pos_sql('{S}', 'k')[0].replace("'{S}'", 'salt')} AS word,
             {_bloom_pos_sql('{S}', 'k')[1].replace("'{S}'", 'salt')} AS bit
      FROM idx CROSS JOIN (VALUES ('bf0:'), ('bf1:'), ('bf2:'),
                                  ('bf3:')) s(salt)
    ),
    bloom AS (
      SELECT word, bit_or(1::BIGINT << bit) AS bits FROM pos GROUP BY 1
    ),
    probe AS (
      SELECT b.doc_id, b.k, salt,
             {_bloom_pos_sql('{S}', 'b.k')[0].replace("'{S}'", 'salt')} AS word,
             {_bloom_pos_sql('{S}', 'b.k')[1].replace("'{S}'", 'salt')} AS bit
      FROM batch b CROSS JOIN (VALUES ('bf0:'), ('bf1:'), ('bf2:'),
                                      ('bf3:')) s(salt)
    ),
    hits AS (
      SELECT p.doc_id, p.k,
             (count(*) FILTER (
                WHERE ((COALESCE(f.bits, 0) >> p.bit) & 1) = 1
              ) = 4) AS might_contain
      FROM probe p LEFT JOIN bloom f ON p.word = f.word
      GROUP BY 1, 2
    )
    SELECT h.doc_id, h.might_contain,
           EXISTS (SELECT 1 FROM idx i WHERE i.k = h.k) AS is_dup
    FROM hits h
    ORDER BY doc_id
    """,
    tags=("sketch", "dedup", "approx", "incremental"),
)
def bloom_dedup_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter for the incremental-dedup
    probe, EXACTLY oracled (deterministic md5 positions, so the bitmap
    and every verdict hash-match the DuckDB rebuild): the stored
    corpus's text hashes (doc_id < EXISTING_MAX_DOC_ID, imported)
    build a 4096-bit bitmap; an arriving batch — 50 re-submitted
    copies of index docs under new ids (the re-crawl case) plus the
    genuinely novel tail — probes it. Output per batch doc:
    might_contain (the pre-filter verdict) and is_dup (the exact
    answer, riding along as the audit anchor).

    No false negatives is STRUCTURAL (building a key sets exactly the
    bits probing it checks — every true dup is flagged), so the filter
    is safe to gate the expensive index join: at 100 TB the batch
    probes a broadcast bitmap (one task-local lookup per doc) and only
    the might_contain survivors pay the shuffle into the stored-index
    join, cutting that join's probe side by ~the novelty rate.
    False-positive rate is bounded by the classic (1 - e^(-kn/m))^k —
    ~0.2% at this sizing, measured in tests/test_sketch.py."""
    docs = load_table(spark, sf_dir, "documents")
    idx = docs.filter(F.col("doc_id") < _BLOOM_SPLIT).select(
        F.md5("text").alias("k")
    )
    # Corpus-derived id offset for the re-submitted copies (shared with
    # the oracle's `mx` CTE): max(doc_id) + 1 can never collide with a
    # real id, whatever SF generated the table.
    off = docs.agg((F.max("doc_id") + F.lit(1)).alias("off"))
    batch = (
        docs.filter(F.col("doc_id") < _BLOOM_RESUB)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("doc_id") + F.col("off")).alias("doc_id"),
            F.md5("text").alias("k"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") >= _BLOOM_SPLIT).select(
                "doc_id", F.md5("text").alias("k")
            )
        )
    )
    bloom = bloom_build(idx)
    probed = bloom_probe(batch, bloom)
    hit = idx.distinct().withColumn("_hit", F.lit(1))
    return (
        probed.join(F.broadcast(hit), "k", "left")
        .select(
            "doc_id",
            "might_contain",
            F.col("_hit").isNotNull().alias("is_dup"),
        )
        .orderBy("doc_id")
    )


# --- KMV (k-minimum-values) distinct sketch -------------------------------

# k=128 -> relative error ~1/sqrt(k) ~ 8.8% on distinct counts; the
# sketch is the k lexicographically-smallest md5 values of a key set
# (hex strings compare identically in both engines), so it is fully
# deterministic and EXACTLY oracle-able. What it adds over HLL
# (orders_approx_bounds): SET ALGEBRA — K(A u B) is the k smallest of
# K(A) u K(B), and |K_union ^ K_A ^ K_B| / k estimates Jaccard, giving
# intersection sizes HLL cannot express. Summaries are k rows per set:
# merging/estimating never rescans the corpus.
KMV_K = 128
# v12: the first 12 md5 nibbles as an exact integer < 16^12 = 2^48.
# The estimator (k-1) * 2^48 / v12 is ONE IEEE division of two
# exactly-representable integers ((k-1)*2^48 = 127 * 2^48 has a 7-bit
# significand), so both engines produce the identical double before the
# epsilon rounding.
KMV_SCALE = 16 ** 12


def _kmv_v12_sql(h: str) -> str:
    """Engine-shared SQL: first 12 hex nibbles of ``h`` as a bigint.
    Every multiplier is CAST to BIGINT up front — a bare int literal
    like 16^7 would make `15 * 268435456` overflow int32 under Spark's
    ANSI mode."""
    nib = lambda p: f"(instr('{_HEX}', substr({h}, {p}, 1)) - 1)"  # noqa: E731
    terms = " + ".join(
        f"{nib(p)} * CAST({16 ** (12 - p)} AS BIGINT)"
        for p in range(1, 13)
    )
    return f"(CAST({terms} AS BIGINT))"


_SQL_SOURCE_GRAMS = """
    toks AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT source, t[i] || ' ' || t[i + 1] AS g
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    )
"""


def _source_grams(docs: DataFrame) -> DataFrame:
    """Per-source DISTINCT bigram vocabulary — the key sets the KMV
    sketches summarize (same gram semantics as `_bigram_counts`)."""
    from newsflow.functions.text import shingles_expr, tokens_expr

    return (
        docs.select("source", tokens_expr("text").alias("t"))
        .select("source", F.explode(shingles_expr("t", 2)).alias("g"))
        .distinct()
    )


def kmv_sketch(keys: DataFrame, by: str = "source", key: str = "g") -> DataFrame:
    """(by, h, rn): the k smallest md5 values per group, rank attached.
    One window over the distinct-key frame; the sketch is k rows per
    group regardless of set size."""
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy("h")
    return (
        keys.select(by, F.md5(F.col(key)).alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
    )


@register(
    "source_vocab_kmv",
    oracle=f"""
    WITH {_SQL_SOURCE_GRAMS},
    hashed AS (SELECT source, md5(g) AS h FROM grams),
    ranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM hashed
    ),
    kth AS (SELECT source, h FROM ranked WHERE rn = {KMV_K}),
    truth AS (
      SELECT source, CAST(count(*) AS BIGINT) AS exact_vocab
      FROM grams GROUP BY 1
    )
    SELECT t.source, t.exact_vocab,
           {{est}} AS est_vocab,
           abs({{est_raw}} - t.exact_vocab) * 4 <= t.exact_vocab
             AS within_4rsd
    FROM truth t JOIN kth k ON t.source = k.source
    ORDER BY t.source
    """.replace(
        "{est}",
        "(round((CAST(%d AS DOUBLE) / %s) + 1e-09, 4) + 0.0)"
        % ((KMV_K - 1) * KMV_SCALE, _kmv_v12_sql("k.h")),
    ).replace(
        "{est_raw}",
        "(CAST(%d AS DOUBLE) / %s)"
        % ((KMV_K - 1) * KMV_SCALE, _kmv_v12_sql("k.h")),
    ),
    tags=("sketch", "approx", "agg", "evaluation"),
)
def source_vocab_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-vocabulary estimation from a KMV sketch,
    EXACTLY oracled (deterministic md5 order, single IEEE division):
    the estimate (k-1)/v_k with the exact count riding along as the
    audit anchor, plus a 4x-relative-standard-deviation certificate
    (1/sqrt(k) ~ 8.8% per estimate; 4 sigma ~ 35%, comfortably above
    the measured ~5-9% errors). The sketch is k=128 rows per source —
    distinct counting whose summary MERGES (see `source_overlap_kmv`),
    which approx_count_distinct's opaque HLL registers cannot be
    queried for.

    Sources with fewer than k distinct keys have no k-th value and drop
    out of the report (the same inner join in both engines — for such
    small sets the sketch IS the set and exact counting is the right
    tool); every source here carries ~700 bigrams against k=128."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _source_grams(docs)
    kmv = kmv_sketch(grams)
    kth = kmv.filter(F.col("rn") == KMV_K).select(
        "source", F.expr(_kmv_v12_sql("h")).alias("v12")
    )
    truth = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("exact_vocab")
    )
    est_raw = F.lit(float((KMV_K - 1) * KMV_SCALE)) / F.col("v12")
    return (
        truth.join(kth, "source")
        .select(
            "source",
            "exact_vocab",
            (F.round(est_raw + F.lit(1e-09), 4) + F.lit(0.0)).alias(
                "est_vocab"
            ),
            (
                F.abs(est_raw - F.col("exact_vocab")) * 4
                <= F.col("exact_vocab")
            ).alias("within_4rsd"),
        )
        .orderBy("source")
    )


def _kmv_overlap_oracle() -> str:
    v12 = _kmv_v12_sql("u.h")
    est_union = (
        f"(CAST({(KMV_K - 1) * KMV_SCALE} AS DOUBLE) / {v12})"
    )
    return f"""
    WITH {_SQL_SOURCE_GRAMS},
    hashed AS (SELECT source, md5(g) AS h FROM grams),
    ranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM hashed
    ),
    kmv AS (SELECT source, h FROM ranked WHERE rn <= {KMV_K}),
    srcs AS (SELECT DISTINCT source FROM grams),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    memb AS (
      SELECT p.sa, p.sb, k.h,
             max(CASE WHEN k.source = p.sa THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN k.source = p.sb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p
      JOIN kmv k ON k.source = p.sa OR k.source = p.sb
      GROUP BY 1, 2, 3
    ),
    uranked AS (
      SELECT sa, sb, h, in_a, in_b,
             row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
      FROM memb
    ),
    ustats AS (
      SELECT sa, sb,
             CAST(sum(in_a * in_b) AS BIGINT) AS c
      FROM uranked WHERE rn <= {KMV_K} GROUP BY 1, 2
    ),
    ukth AS (SELECT sa, sb, h FROM uranked WHERE rn = {KMV_K}),
    exact_i AS (
      SELECT g1.source AS sa, g2.source AS sb,
             CAST(count(*) AS BIGINT) AS exact_inter
      FROM grams g1 JOIN grams g2
        ON g1.g = g2.g AND g1.source < g2.source
      GROUP BY 1, 2
    ),
    exact_v AS (
      SELECT source, CAST(count(*) AS BIGINT) AS v FROM grams GROUP BY 1
    )
    SELECT s.sa AS source_a, s.sb AS source_b,
           va.v AS exact_a, vb.v AS exact_b,
           COALESCE(e.exact_inter, 0) AS exact_inter,
           (round((s.c * 1.0 / {KMV_K}) + 1e-09, 4) + 0.0) AS est_jaccard,
           (round(((s.c * 1.0 / {KMV_K}) * {est_union})
                  + 1e-09, 2) + 0.0) AS est_inter,
           abs(s.c * 1.0 / {KMV_K}
               - COALESCE(e.exact_inter, 0) * 1.0
                 / (va.v + vb.v - COALESCE(e.exact_inter, 0)))
             <= {4 * (0.25 / KMV_K) ** 0.5!r} AS jaccard_within_4rsd
    FROM ustats s
    -- INNER join, deliberately mirroring the Spark side: a pair whose
    -- union sketch holds fewer than k values has no k-th value and
    -- drops out of the report in BOTH engines (ADVICE r11 — the old
    -- correlated subquery kept such pairs with a NULL est_inter, a
    -- latent cross-engine divergence for sources with < k distinct
    -- keys; for sets that small the sketch IS the set, see
    -- source_vocab_kmv's docstring for the same precondition).
    JOIN ukth u ON u.sa = s.sa AND u.sb = s.sb
    JOIN exact_v va ON va.source = s.sa
    JOIN exact_v vb ON vb.source = s.sb
    LEFT JOIN exact_i e ON e.sa = s.sa AND e.sb = s.sb
    ORDER BY source_a, source_b
    """


@register(
    "source_overlap_kmv",
    oracle=_kmv_overlap_oracle(),
    tags=("sketch", "approx", "agg", "evaluation"),
)
def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary OVERLAP from merged KMV sketches — the
    set algebra HLL registers cannot answer: K(A u B) is the k smallest
    of K(A) u K(B) (sketch merge = the same k-smallest rule, no corpus
    rescan), Jaccard ~ |K_union ^ K_A ^ K_B| / k, and the intersection
    size is jaccard x the union estimate. Exact vocabulary sizes and
    intersection ride along as audit anchors, with a 4-sigma Jaccard
    certificate (sd <= sqrt(0.25/k) ~ 0.044 at k=128). EXACTLY oracled:
    md5 order is deterministic, the union estimator is one IEEE
    division, and the jaccard/intersection arithmetic uses the same
    expression structure in both engines.

    Scale: after the per-source distinct pass, everything operates on
    k-row summaries (20 sources -> 190 pairs x 2k rows here); at 100 TB
    the sketches are built once per source/snapshot and every pairwise
    overlap question is answered from k-row frames."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    grams = _source_grams(docs).localCheckpoint(eager=True)
    # S*k rows, consumed by both union branches and the kth-value
    # extraction — checkpoint so the per-source window runs once.
    kmv = kmv_sketch(grams).localCheckpoint(eager=True)
    srcs = grams.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(srcs.select(F.col("source").alias("sb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    # Two equi-joins + union, NOT one OR-condition join: an OR predicate
    # cannot hash-partition, so Spark would fall back to a nested-loop
    # join — O(pairs x sketch rows) comparisons, S^3·k at S sources.
    kmv_a = kmv.select(F.col("source").alias("sa"), "h")
    kmv_b = kmv.select(F.col("source").alias("sb"), "h")
    memb = (
        pairs.join(F.broadcast(kmv_a), "sa").select(
            "sa", "sb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
        )
        .unionAll(
            pairs.join(F.broadcast(kmv_b), "sb").select(
                "sa", "sb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("sa", "sb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("sa", "sb").orderBy("h")
    uranked = memb.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K
    )
    ustats = uranked.groupBy("sa", "sb").agg(
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("c")
    )
    ukth = uranked.filter(F.col("rn") == KMV_K).select(
        "sa", "sb", F.expr(_kmv_v12_sql("h")).alias("v12u")
    )
    exact_v = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    exact_i = (
        grams.select(F.col("source").alias("sa"), "g")
        .join(grams.select(F.col("source").alias("sb"), "g"), "g")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    est_union = F.lit(float((KMV_K - 1) * KMV_SCALE)) / F.col("v12u")
    jacc = F.col("c") * F.lit(1.0) / F.lit(KMV_K)
    exact_j = (
        F.col("exact_inter")
        * F.lit(1.0)
        / (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
    )
    return (
        ustats.join(ukth, ["sa", "sb"])
        .join(
            exact_v.select(F.col("source").alias("sa"), F.col("v").alias("exact_a")),
            "sa",
        )
        .join(
            exact_v.select(F.col("source").alias("sb"), F.col("v").alias("exact_b")),
            "sb",
        )
        .join(exact_i, ["sa", "sb"], "left")
        .withColumn("exact_inter", F.coalesce("exact_inter", F.lit(0)))
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "exact_a",
            "exact_b",
            "exact_inter",
            (F.round(jacc + F.lit(1e-09), 4) + F.lit(0.0)).alias("est_jaccard"),
            (F.round(jacc * est_union + F.lit(1e-09), 2) + F.lit(0.0)).alias(
                "est_inter"
            ),
            (F.abs(jacc - exact_j) <= F.lit(4 * (0.25 / KMV_K) ** 0.5)).alias(
                "jaccard_within_4rsd"
            ),
        )
        .orderBy("source_a", "source_b")
    )
