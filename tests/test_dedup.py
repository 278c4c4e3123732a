"""Dedup-algorithm tests beyond oracle parity: SimHash against a
pure-Python reference implementation, and MinHash-LSH recall against the
exact Jaccard operator."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from newsflow.dedup import core, minhash, simhash
from newsflow.tables import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE


def _py_tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _py_xxhash64_via_spark(spark, tokens: list[str]) -> dict[str, int]:
    df = spark.createDataFrame([(t,) for t in tokens], ["tok"])
    return {
        r["tok"]: r["h"]
        for r in df.select("tok", F.xxhash64("tok").alias("h")).collect()
    }


def _py_simhash(token_hashes: list[int]) -> int:
    sig = 0
    for bit in range(64):
        vote = sum(
            1 if (h >> bit) & 1 else -1 for h in token_hashes
        )
        if vote > 0:
            sig |= 1 << bit
    # two's-complement to match Spark's signed BIGINT
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def test_simhash_matches_python_reference(spark):
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 30
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash.simhash_signatures(docs).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    all_tokens = sorted({t for r in rows for t in _py_tokens(r["text"])})
    hmap = _py_xxhash64_via_spark(spark, all_tokens)
    for r in rows:
        toks = sorted(set(_py_tokens(r["text"])))
        expected = _py_simhash([hmap[t] for t in toks])
        assert got[r["doc_id"]] == expected, f"doc {r['doc_id']}"


def test_simhash_identical_docs_zero_hamming(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(5)
    dup = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1000))
    pairs = simhash.simhash_near_dup_pairs(dup, max_hamming=0).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    for i in [r["doc_id"] for r in docs.select("doc_id").collect()]:
        assert (i, i + 1000) in found


def test_minhash_lsh_candidates_superset_of_exact(spark):
    """LSH candidate generation must not lose any true near-dup pair —
    this is what licenses using the exact-Jaccard SQL as the oracle for
    minhash_near_dup_pairs."""
    docs = load_table(spark, SF_ORACLE, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in core.jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert len(exact) >= 10, "testdata should contain planted near-dups"
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash.minhash_candidates(
            docs, n=3, max_jaccard_distance=0.35
        ).collect()
    }
    assert exact <= cands, f"LSH missed pairs: {exact - cands}"


def test_native_minhash_candidates_superset_of_exact(spark):
    """Same recall contract for the native xxhash64 signature path."""
    docs = load_table(spark, SF_ORACLE, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in core.jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    arrays = core.doc_shingle_arrays(docs, 3)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash.native_minhash_candidates(
            arrays, 16, rows_per_band=2
        ).collect()
    }
    assert exact <= cands, f"native MinHash missed pairs: {exact - cands}"


def test_exact_dedup_removes_planted_duplicates(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    dup = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 10_000))
    n = docs.count()
    groups = core.exact_duplicate_groups(dup)
    assert groups.count() == n
    assert groups.agg(F.max("dup_count")).first()[0] == 2
    kept = core.exact_dedup_keep_min(dup)
    assert kept.count() == n
    # keeper is always the original (smaller) doc_id
    assert kept.filter(F.col("doc_id") >= 10_000).count() == 0


def test_embedding_cosine_lsh_precision_and_recall(spark):
    """The LSH-blocked embedding near-dup variant: precision must be exact
    (every emitted pair truly clears the threshold — candidates are
    verified), recall vs the exact all-pairs operator must stay high."""
    from newsflow.dedup import embedding

    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding.embedding_cosine_pairs(emb, threshold=0.4).collect()
    }
    assert len(exact) >= 10, "testdata should contain cosine-similar pairs"
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding.embedding_cosine_pairs_lsh(
            emb, threshold=0.4
        ).collect()
    }
    assert approx <= exact, f"false positives: {approx - exact}"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall} below floor"


def test_simhash_md5_twin_agrees_with_xxhash_tier(spark):
    """Different hash bits move the radius BOUNDARY, but any pair with
    IDENTICAL distinct-token sets votes identically under every hash, so
    such pairs must be Hamming-0 in both the md5 twin and the xxhash64
    scale tier."""
    import pyspark.sql.functions as F

    from newsflow.dedup import simhash, simhash_md5
    from newsflow.functions.text import tokens_expr
    from newsflow.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    sets = docs.select(
        "doc_id",
        F.sort_array(F.array_distinct(tokens_expr("text"))).alias("ts"),
    ).filter(F.size("ts") > 0)
    same = {
        tuple(sorted(p))
        for r in sets.groupBy("ts")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .collect()
        for i, a in enumerate(r.ids)
        for b in r.ids[i + 1 :]
        for p in [(a, b)]
    }
    assert same, "fixture should contain identical-token-set near-dups"
    md5_zero = {
        (r.doc_a, r.doc_b)
        for r in simhash_md5.near_dup_pairs(docs).collect()
        if r.hamming == 0
    }
    xx_zero = {
        (r.doc_a, r.doc_b)
        for r in simhash.simhash_near_dup_pairs(docs, max_hamming=0).collect()
    }
    assert same <= md5_zero
    assert same <= xx_zero


def test_shingles_survive_infer_filters_from_generate(spark):
    """Regression (round 5): InferFiltersFromGenerate copies a
    downstream explode's size(shingles) > 0 predicate next to the
    caller's size(toks) >= n guard, and codegen subexpression
    elimination then evaluates the shingle expression EAGERLY on rows
    shorter than n tokens — where the unguarded form threw
    INVALID_PARAMETER_VALUE.START from slice(toks, 0, n). The CASE arm
    in shingles_expr must keep this exact shape (filter + explode over
    a corpus with sub-n rows) working for any n."""
    import pyspark.sql.functions as F

    from newsflow.dedup.core import doc_shingle_arrays

    docs = spark.createDataFrame(
        [
            (1, "tiny doc"),
            (2, " ".join(f"w{i}" for i in range(30))),
            (3, " ".join(f"w{i}" for i in range(19))),
        ],
        ["doc_id", "text"],
    )
    for n in (3, 20):
        grams = doc_shingle_arrays(docs, n).select(
            "doc_id", F.explode("shingles").alias("s")
        )
        counts = {
            r.doc_id: r.c
            for r in grams.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        assert counts[2] == 30 - n + 1
        assert 1 not in counts  # 2-token doc filtered, not crashed


def test_shared_span_pairs_hash_form_matches_string_form(spark):
    """The hash_grams scale knob must be output-equivalent at the check
    SF: grouping on xxhash64(gram) instead of the gram string changes
    shuffle bytes, not results (collisions are ~2^-64 per gram pair)."""
    from newsflow.dedup.core import shared_span_pairs
    from newsflow.tables import load_table, spread
    from tests.conftest import SF_ORACLE

    docs = spread(load_table(spark, SF_ORACLE, "documents"))
    key = lambda r: (r.doc_a, r.doc_b, r.n_shared_grams)  # noqa: E731
    strings = sorted(map(key, shared_span_pairs(docs).collect()))
    hashed = sorted(
        map(key, shared_span_pairs(docs, hash_grams=True).collect())
    )
    assert strings == hashed
    assert strings  # non-vacuous: the fixture has span-sharing pairs


def test_span_rewrite_excises_planted_quote_from_one_doc_only(spark):
    """A 100-token quote planted in two otherwise-unrelated documents
    must be cut from exactly the non-keeper (higher doc_id), leaving the
    keeper byte-identical and the non-keeper's own prose intact."""
    from newsflow.dedup.core import span_dedup_rewrite

    quote = " ".join(f"q{i}" for i in range(100))
    pre = " ".join(f"apre{i}" for i in range(30))
    post = " ".join(f"bpost{i}" for i in range(30))
    rows = [
        (1, f"{pre} {quote}"),
        (2, f"{quote} {post}"),
        (3, " ".join(f"other{i}" for i in range(50))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in span_dedup_rewrite(docs, n=20).collect()}

    keeper = out[1]
    assert keeper.n_removed_tokens == 0
    assert keeper.n_removed_spans == 0
    assert keeper.cleaned_text == f"{pre} {quote}"

    trimmed = out[2]
    # One merged span of exactly the 100 quote tokens removed.
    assert trimmed.n_removed_spans == 1
    assert trimmed.n_removed_tokens == 100
    assert trimmed.cleaned_text == post

    untouched = out[3]
    assert untouched.n_removed_tokens == 0
    assert untouched.cleaned_text == rows[2][1]


def test_incremental_neardup_equals_cross_subset_of_full_pairing(spark):
    """The incremental probe (batch signatures vs the indexed corpus's
    band-signature table) must emit exactly the cross-pair subset of the
    full-corpus near-dup pairing — the equivalence that lets a daily
    ingest skip re-pairing 100 TB."""
    from newsflow.corpus import EXISTING_MAX_DOC_ID
    from newsflow.tables import load_table, spread

    docs = spread(load_table(spark, SF_ORACLE, "documents"))
    full = minhash.native_minhash_near_dup_pairs(docs, n=3, threshold=0.8)
    cross = {
        (r.doc_b, r.doc_a, r.n_common)
        for r in full.collect()
        if r.doc_a < EXISTING_MAX_DOC_ID <= r.doc_b
    }
    inc = minhash.incremental_neardup_pairs(
        docs.filter(F.col("doc_id") < EXISTING_MAX_DOC_ID),
        docs.filter(F.col("doc_id") >= EXISTING_MAX_DOC_ID),
        n=3,
        threshold=0.8,
    )
    got = {
        (r.new_doc_id, r.matched_doc_id, r.n_common) for r in inc.collect()
    }
    assert got == cross
    assert got  # non-vacuous: the fixture has cross-split near-dups


def test_incremental_neardup_max_key_df_drops_hot_keys(spark):
    """The degenerate-bucket cap must bound index fan-out: with
    max_key_df=0 every index key is 'hot', so no candidates survive."""
    from newsflow.corpus import EXISTING_MAX_DOC_ID
    from newsflow.tables import load_table, spread

    docs = spread(load_table(spark, SF_ORACLE, "documents"))
    inc = minhash.incremental_neardup_pairs(
        docs.filter(F.col("doc_id") < EXISTING_MAX_DOC_ID),
        docs.filter(F.col("doc_id") >= EXISTING_MAX_DOC_ID),
        n=3,
        threshold=0.8,
        max_key_df=0,
    )
    assert inc.count() == 0


def test_span_rewrite_hash_form_matches_string_form(spark):
    """The span-rewrite hash_grams scale knob must be output-equivalent
    at the check SF (same argument as shared_span_pairs: xxhash64
    collisions are ~2^-64 per gram pair)."""
    from newsflow.dedup.core import span_dedup_rewrite
    from newsflow.tables import load_table, spread
    from tests.conftest import SF_ORACLE

    docs = spread(load_table(spark, SF_ORACLE, "documents"))
    key = lambda r: tuple(r)  # noqa: E731
    strings = sorted(map(key, span_dedup_rewrite(docs).collect()))
    hashed = sorted(
        map(key, span_dedup_rewrite(docs, hash_grams=True).collect())
    )
    assert strings == hashed
    assert any(r[2] > 0 for r in strings)  # non-vacuous: removals exist


def test_oversize_policy_validated_without_cap(spark):
    """A typo'd oversize policy fails loud even when max_bucket=None —
    otherwise the misconfiguration hides until a cap is added at
    scale and the pair expansion silently drops over-cap buckets."""
    import pytest

    from newsflow.dedup import minhash
    from newsflow.dedup.core import doc_shingle_arrays

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    arrays = doc_shingle_arrays(docs, 3)
    with pytest.raises(ValueError, match="oversize"):
        minhash.native_minhash_candidates(arrays, oversize="stars")


def test_star_capped_buckets_preserve_viral_drop_set(spark):
    """Skew hardening: with `max_bucket` + ``oversize="star"``, an
    over-cap LSH bucket (one viral boilerplate with K variants) expands
    K-1 representative pairs instead of K(K-1)/2 — and the keep-smallest
    drop outcome is unchanged, because every member still verifies
    against its bucket's min-id representative
    (BENCH_sf1.md records the same at K=2000)."""
    import pyspark.sql.functions as F

    from newsflow.dedup import minhash
    from newsflow.dedup.core import doc_shingle_arrays

    k = 30
    boiler = " ".join(f"boiler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(j, f"{boiler} v{j}") for j in range(k)]
        + [(100 + j, " ".join(f"w{100 + j}_{i}" for i in range(40)))
           for j in range(20)],
        "doc_id long, text string",
    )
    arrays = doc_shingle_arrays(docs, 3)
    full = minhash.native_minhash_candidates(arrays)
    star = minhash.native_minhash_candidates(
        arrays, max_bucket=10, oversize="star"
    )
    assert full.count() == k * (k - 1) // 2
    assert star.count() == k - 1  # bounded: one pair per non-rep member
    drops_full = {
        r[0]
        for r in minhash.native_minhash_near_dup_pairs(docs, 3, 0.8)
        .select("doc_b").distinct().collect()
    }
    drops_star = {
        r[0]
        for r in minhash.native_minhash_near_dup_pairs(
            docs, 3, 0.8, max_bucket=10, oversize="star"
        )
        .select("doc_b").distinct().collect()
    }
    assert drops_star == drops_full == set(range(1, k))
    assert (
        star.agg(F.min("doc_a")).first()[0] == 0
    )  # rep is the bucket min


def test_mllib_twin_driver_heap_guard(spark):
    """The MLlib API-parity twins fail LOUD with actionable text when
    the corpus outgrows a small driver heap (VERDICT r9 #8), and stay
    silent below either threshold."""
    import pytest

    from newsflow.dedup.queries import _require_driver_heap_for_mllib_twin

    docs = spark.range(100).selectExpr("id AS doc_id")
    # Below the doc threshold: never trips, whatever the heap.
    _require_driver_heap_for_mllib_twin(
        spark, docs, "q", max_docs=1_000, min_heap=1 << 60
    )
    # Past the doc threshold with an impossible heap floor: trips loud.
    with pytest.raises(RuntimeError, match="NEWSFLOW_DRIVER_MEM"):
        _require_driver_heap_for_mllib_twin(
            spark, docs, "q", max_docs=10, min_heap=1 << 60
        )
    # Past the doc threshold but ample heap: silent.
    _require_driver_heap_for_mllib_twin(
        spark, docs, "q", max_docs=10, min_heap=1
    )


def test_cms_planned_candidates_equal_static_star(spark):
    """The sketch-informed candidate plan (VERDICT r11 stretch #9) must
    produce EXACTLY the static (max_bucket, star) policy's pairs — on
    the real corpus and under a planted viral bucket that forces both
    the star route and the demotion (false-heavy) route to run."""
    import pyspark.sql.functions as F2

    from newsflow.dedup import minhash
    from newsflow.tables import load_table, spread

    docs = spread(load_table(spark, SF_SMOKE, "documents")).select(
        "doc_id", "text"
    )
    viral = (
        docs.filter(F2.col("doc_id") == 3)
        .select("text")
        .crossJoin(
            spark.range(300).select((F2.col("id") + 100000).alias("doc_id"))
        )
        .select("doc_id", "text")
    )
    big = docs.unionByName(viral)
    arrays = minhash.doc_shingle_arrays(big, 3).cache()
    static = {
        (r.doc_a, r.doc_b)
        for r in minhash.native_minhash_candidates(
            arrays, max_bucket=64, oversize="star"
        ).collect()
    }
    planned = {
        (r.doc_a, r.doc_b)
        for r in minhash.native_minhash_candidates_cms_planned(
            arrays, max_bucket=64
        ).collect()
    }
    assert planned == static and len(static) > 300


def test_cms_planned_lag_guard_unconditional_equality(spark):
    """ADVICE r12 (medium): a PROVIDED sketch — the maintained-state
    deployment shape — can lag the input and underestimate a key that
    went viral since the last delta. The untrusted-sketch light-route
    guard must keep the output identical to the static star policy
    under (a) a stale sketch missing the viral docs entirely and
    (b) an empty sketch; and the planted scenario must be REAL — the
    same stale sketch with the guard wrongly skipped
    (sketch_covers_input=True) must diverge, proving the guard is
    load-bearing, not decorative."""
    import pyspark.sql.functions as F2

    from newsflow.dedup import minhash
    from newsflow.tables import load_table, spread

    docs = spread(load_table(spark, SF_SMOKE, "documents")).select(
        "doc_id", "text"
    )
    viral = (
        docs.filter(F2.col("doc_id") == 3)
        .select("text")
        .crossJoin(
            spark.range(300).select((F2.col("id") + 100000).alias("doc_id"))
        )
        .select("doc_id", "text")
    )
    big = docs.unionByName(viral)
    arrays = minhash.doc_shingle_arrays(big, 3).cache()
    static = {
        (r.doc_a, r.doc_b)
        for r in minhash.native_minhash_candidates(
            arrays, max_bucket=64, oversize="star"
        ).collect()
    }
    # Stale sketch: built over only the pre-viral corpus.
    stale_sigs = minhash.band_signatures(
        minhash.doc_shingle_arrays(docs, 3), 16, 2
    ).withColumn(
        "ck",
        F2.concat_ws(
            ":",
            F2.col("band").cast("string"),
            F2.col("key").cast("array<string>"),
        ),
    )
    stale = minhash._plan_cms_build(stale_sigs).localCheckpoint(eager=True)

    def run(sketch, covers):
        return {
            (r.doc_a, r.doc_b)
            for r in minhash.native_minhash_candidates_cms_planned(
                arrays,
                max_bucket=64,
                sketch=sketch,
                sketch_covers_input=covers,
            ).collect()
        }

    assert run(stale, covers=False) == static
    empty = spark.createDataFrame([], "d int, bkt int, cell long")
    assert run(empty, covers=False) == static
    # The hazard is real: unguarded stale sketch expands the viral
    # bucket all-pairs (est stale-low routes it light) and diverges.
    assert run(stale, covers=True) != static


def test_simhash_md5_scale_plan_equals_join_plan(spark):
    """Round 13 (VERDICT r12 Next #4): the registered SimHash query now
    runs the bucket-grouped SCALE plan over engine-shared md5 bits —
    its output must equal the join-plan md5 twin row-for-row (same
    bits, same banding, same first-matching-band rule, same radius),
    which is what lets both share one DuckDB oracle."""
    from newsflow.dedup import simhash, simhash_md5
    from newsflow.tables import load_table, spread

    docs = spread(load_table(spark, SF_SMOKE, "documents")).select(
        "doc_id", "text"
    )
    scale = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash.simhash_near_dup_pairs(
            docs, max_hamming=3, max_bucket=None, bits="md5"
        ).collect()
    }
    join = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_md5.near_dup_pairs(docs).collect()
    }
    assert scale == join


def test_simhash_bits_sources_same_shape(spark):
    """The xxhash64 perf derivation stays available and produces the
    same schema/semantics (pairs within radius); outputs differ only
    through the hash bits. Rejects unknown sources loudly."""
    import pytest as _pytest

    from newsflow.dedup import simhash
    from newsflow.tables import load_table, spread

    docs = (
        spread(load_table(spark, SF_SMOKE, "documents"))
        .select("doc_id", "text")
        .limit(40)
    )
    out = simhash.simhash_near_dup_pairs(docs, bits="xxhash64")
    assert [f.name for f in out.schema.fields] == [
        "doc_a",
        "doc_b",
        "hamming",
    ]
    with _pytest.raises(ValueError, match="unknown bits source"):
        simhash.simhash_signatures(docs, bits="sha9000")
