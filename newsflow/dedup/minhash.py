"""MinHash + LSH near-duplicate detection — the 100 TB dedup path.

Pipeline: shingle → binary feature vector (HashingTF) → MinHashLSH
(pyspark.ml, fixed seed) → approxSimilarityJoin for candidate pairs →
EXACT Jaccard verification of candidates only.

Cost model vs the exact shingle self-join (`core.jaccard_pairs`): the LSH
join only materializes pairs that collide in ≥1 of the hash tables, i.e.
O(near-dup pairs) instead of O(pairs sharing any shingle). The final exact
verification touches only candidates, so the output equals the exact
operator whenever LSH recall at the threshold is 1 (with 8 tables the
per-pair miss probability is (1-j)^8 ≈ 2.6e-6 at j=0.8 — and anything the
LSH does surface is exact-verified, so precision is always 1; recall is
verified empirically against the exact oracle in tests). Table count is
a recall/cost dial: 16 tables cost ~3× the wall-clock here for recall
headroom you only need if the threshold drops well below 0.8.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.ml.feature import HashingTF, MinHashLSH
from pyspark.sql import DataFrame

from newsflow.dedup.core import doc_shingle_arrays


def _lsh_candidates(
    arrays: DataFrame,
    num_hash_tables: int,
    max_jaccard_distance: float,
    num_features: int,
    seed: int,
) -> DataFrame:
    """Candidate pairs from shingle-array rows (doc_a < doc_b)."""
    tf = HashingTF(
        inputCol="shingles",
        outputCol="features",
        numFeatures=num_features,
        binary=True,
    )
    feats = tf.transform(arrays)

    lsh = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, max_jaccard_distance, distCol="approx_dist"
    )
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def minhash_candidates(
    docs: DataFrame,
    n: int = 3,
    num_hash_tables: int = 8,
    max_jaccard_distance: float = 0.5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b, approx distance ≤ cutoff)."""
    arrays = doc_shingle_arrays(docs, n)
    return _lsh_candidates(
        arrays, num_hash_tables, max_jaccard_distance, num_features, seed
    )


def _verify_pairs(
    arrays: DataFrame, cands: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs against the
    shingle arrays (shared by the MLlib and native LSH paths).

    Set intersection runs as `array_intersect` directly on the per-doc
    shingle arrays — two equi-joins to attach the arrays, zero explodes.
    The earlier exploded-shingle formulation shuffled |pairs| x |avg
    shingles| rows through a join and a groupBy; this shuffles only the
    candidate pairs. (5x stress corpus, 55.9k true pairs: 25s -> 11.5s.)
    """
    a = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    b = arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.col("n_common") / (
        F.size("sh_a") + F.size("sh_b") - F.col("n_common")
    )
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", n_common.cast("long"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def mllib_candidates(
    arrays: DataFrame,
    threshold: float = 0.8,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """MinHashLSH candidate pairs from shingle-array rows, for exact
    verification at Jaccard ``threshold``."""
    return _lsh_candidates(
        arrays,
        num_hash_tables,
        # distance = 1 - jaccard; leave slack below the verify threshold so
        # approximate MinHash distance never prunes a true positive.
        min(1.0, (1.0 - threshold) + 0.15),
        num_features,
        seed,
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """LSH candidates + exact Jaccard verification — same output contract
    as `core.jaccard_pairs` but with LSH-bounded join fan-out."""
    arrays = doc_shingle_arrays(docs, n)
    cands = mllib_candidates(
        arrays, threshold, num_hash_tables, num_features, seed
    )
    return _verify_pairs(arrays, cands, threshold)


def band_signatures(
    arrays: DataFrame, num_hashes: int = 16, rows_per_band: int = 2
) -> DataFrame:
    """Banded minhash signatures, one (doc_id, band, key) row per band —
    the LSH index representation. In a production pipeline THIS is the
    table a daily ingest persists (partitioned/bucketed by (band, key))
    so new batches probe it instead of re-pairing the corpus; see
    `incremental_neardup_pairs`.

    Each shingle string is hashed ONCE (xxhash64); the `num_hashes`
    per-function values derive from the cheap long-input re-hash
    xxhash64(base, i), so signature cost is one O(len) string hash plus
    H fixed-width hashes per shingle instead of H string hashes.
    """
    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be a multiple of rows_per_band")
    with_base = arrays.withColumn(
        "_bh", F.transform("shingles", lambda s: F.xxhash64(s))
    )

    def _minhash(i: int) -> F.Column:
        # One-arg lambda is load-bearing: a two-parameter lambda (e.g.
        # `lambda h, i=i: ...`) would make transform() pass the array
        # INDEX as the second argument, collapsing all hash functions
        # into one (same trap as F.trim in functions/scalars.py).
        return F.array_min(
            F.transform("_bh", lambda h: F.xxhash64(h, F.lit(i)))
        )

    n_bands = num_hashes // rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array(
                    *[_minhash(b * rows_per_band + r) for r in range(rows_per_band)]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return with_base.select(
        "doc_id", F.explode(band_structs).alias("sig")
    ).select(
        "doc_id", F.col("sig.band").alias("band"), F.col("sig.key").alias("key")
    )


def native_minhash_candidates(
    arrays: DataFrame,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    oversize: str = "drop",
) -> DataFrame:
    """Candidate pairs via NATIVE minhash signatures — no MLlib, no
    vectors: banded LSH over per-document min-hash signatures
    (`band_signatures`), as a self-join on (band, signature-slice).
    Entirely whole-stage codegen.

    Banding (r = rows_per_band, b = H/r): two documents become a
    candidate iff ALL r signatures in ≥1 band collide —
    P(candidate) = 1-(1-j^r)^b. r=1 reproduces MinHashLSH's OR-ing
    (≈ 1-(1-j)^H: recall headroom, but on a corpus whose background
    similarity is j₀ the candidate set carries ~H·j₀·|pairs| noise).
    The r=2, b=8 default keeps miss probability at j=0.8 below 3e-4
    while cutting background collisions to ~b·j₀² — on the sf0.1 corpus
    that is 82k → ~300 candidates, which is what makes the verify stage
    O(true pairs). Recall 1 on the testdata is asserted empirically
    (tests/test_dedup.py) — the hash functions are deterministic, so
    that property is stable run-to-run.
    """
    # Validate the policy unconditionally — a typo'd oversize paired
    # with max_bucket=None would otherwise be accepted silently and
    # only surface once a cap is added at scale.
    if oversize not in ("drop", "star"):
        raise ValueError(f"unknown oversize policy: {oversize!r}")
    sigs = band_signatures(arrays, num_hashes, rows_per_band)

    # Bucket-grouped pair generation instead of a self-join: a self-join
    # would evaluate the signature pipeline twice (once per side) and
    # shuffle both copies; grouping materializes each LSH bucket once and
    # expands pairs locally. sort_array makes doc_a < doc_b by
    # construction and the output order-deterministic. Bucket skew is
    # bounded by the signature itself: a bucket of k members yields
    # k(k-1)/2 pairs either way — inherent to LSH output size, not to
    # this formulation. (The two-arg lambda below *wants* the element
    # index — the same transform() behavior that is a trap for
    # one-arg functions is load-bearing here.)
    buckets = (
        sigs.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    star_pairs = None
    if max_bucket is not None:
        # Degenerate-bucket cap (same bound as simhash.py): a bucket of k
        # members expands k(k-1)/2 structs inside ONE row, so a band key
        # shared by tens of thousands of docs (one viral boilerplate
        # string) is a per-task OOM. Two policies for over-cap buckets:
        #
        # - "drop" discards them — bounded memory, recall 0 on
        #   "everything matches everything" keys;
        # - "star" emits only (bucket-min, member) pairs — O(k) instead
        #   of O(k²) per bucket, which PRESERVES the dedup outcome on a
        #   genuine viral cluster: with keep-smallest-keeper semantics a
        #   loser is any doc that verifies against a smaller clustermate,
        #   and every over-cap member still gets verified against its
        #   bucket's representative (recall is traded only for borderline
        #   members that match some clustermate but not the rep —
        #   measured 0 lost on the planted-skew stress,
        #   BENCH_sf1.md round-9 section).
        #
        # Default None because the registered query's oracle asserts
        # recall 1 (no bucket at the check SF comes near any sane cap);
        # pass a cap at real scale.
        over = buckets.filter(F.size("ids") > max_bucket)
        buckets = buckets.filter(F.size("ids") <= max_bucket)
        if oversize == "star":
            star_pairs = over.select(
                F.explode(
                    F.expr(
                        "transform(slice(ids, 2, size(ids) - 1),"
                        " y -> struct(ids[0] AS doc_a, y AS doc_b))"
                    )
                ).alias("p")
            )
    pair_expr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_expr).alias("p"))
    if star_pairs is not None:
        pairs = pairs.unionByName(star_pairs)
    return pairs.select("p.doc_a", "p.doc_b").distinct()


# Internal planning sketch (VERDICT r11 stretch #9): D x W Count-Min
# over band-key row frequencies, xxhash64-based — this sketch informs a
# PHYSICAL plan choice only (outputs are provably identical either
# way), so it needs no engine-shared md5 arithmetic and no oracle; the
# oracled CMS family lives in newsflow/sketch.py.
# D=2, W=16384: planning only needs "almost certainly heavy" (a wrong
# estimate moves a key between two routes with identical output), so the
# sketch is sized for cost, not certificate strength — two broadcast
# probes per row, 32 KB cells per hash row.
_PLAN_CMS_D = 2
_PLAN_CMS_W = 1 << 14


def _plan_cms_build(sigs: DataFrame) -> DataFrame:
    """(d, bkt, cell) row-count sketch of the composite band keys —
    one pass, map-side combined into <= D*W cells."""
    pos = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("d"),
                    F.pmod(
                        F.xxhash64("ck", F.lit(i)), F.lit(_PLAN_CMS_W)
                    )
                    .cast("int")
                    .alias("bkt"),
                )
                for i in range(_PLAN_CMS_D)
            ]
        )
    ).alias("p")
    return (
        sigs.select(pos)
        .select("p.d", "p.bkt")
        .groupBy("d", "bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("cell"))
    )


def _plan_cms_attach_est(sigs: DataFrame, sketch: DataFrame) -> DataFrame:
    """Attach ``est`` (the key's CMS frequency estimate, >= true count)
    to every signature row via D broadcast hash joins — row-local, no
    shuffle of the signature stream."""
    out = sigs
    parts = []
    for i in range(_PLAN_CMS_D):
        cells = sketch.filter(F.col("d") == i).select(
            F.col("bkt").alias(f"_b{i}"), F.col("cell").alias(f"_c{i}")
        )
        out = out.join(
            F.broadcast(cells),
            F.pmod(F.xxhash64("ck", F.lit(i)), F.lit(_PLAN_CMS_W)).cast(
                "int"
            )
            == F.col(f"_b{i}"),
            "left",
        )
        parts.append(F.coalesce(F.col(f"_c{i}"), F.lit(0)))
    return out.withColumn("est", F.least(*parts)).drop(
        *[f"_b{i}" for i in range(_PLAN_CMS_D)],
        *[f"_c{i}" for i in range(_PLAN_CMS_D)],
    )


def native_minhash_candidates_cms_planned(
    arrays: DataFrame,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket: int = 64,
    sketch: DataFrame | None = None,
    sketch_covers_input: bool = False,
) -> DataFrame:
    """Sketch-informed PHYSICAL plan for the banded candidate pairs —
    same output, by construction, as
    ``native_minhash_candidates(..., max_bucket, oversize="star")``,
    with the viral-bucket hazard removed from the plan itself.

    The static plan learns a bucket is over-cap only AFTER
    ``collect_list`` has materialized its full member array in one
    aggregation buffer — on a bucket with a viral boilerplate key the
    buffer is O(k) in the very quantity the cap exists to bound. Here a
    Count-Min row-frequency sketch of the band keys (one map-side
    combined pass, D*W-bounded state) is consulted FIRST: every
    signature row learns its key's estimate via broadcast joins (no
    shuffle), and routes

    - est <= cap  -> the normal pair expansion; the buffer bound is now
      STRUCTURAL (CMS never underestimates, so true size <= est <= cap);
    - est > cap   -> a list-free path: exact per-key (count, min) by
      map-side-combinable aggregation, false-heavies (CMS overcount)
      demoted to the normal expansion (they are <= cap, also
      structural), true-heavies emitting star pairs (rep = bucket min,
      matching the static policy's sorted-ids[0]) straight from the
      rows — the k-member list is never materialized ANYWHERE at any k.

    The sketch is advisory: a wrong estimate can only move a key
    between two paths that produce identical pairs for it, so
    equality with the static plan is structural, not probabilistic
    (asserted anyway in tests/test_dedup.py, and measured at planted
    10x/20x skew; the figures are in BENCH_sf1.md).

    The "CMS never underestimates" leg of that argument holds ONLY
    when the sketch was built over the input signature rows (or a
    superset). The in-query build satisfies it by construction. A
    provided ``sketch`` — the maintained-state deployment shape
    (`streaming/ingest.py::plan_cms_ingest_stream`, per-batch additive
    deltas) — can LAG the input, underestimate a key that went viral
    since the last delta, and route a truly over-cap bucket through
    the full expansion: exactly the O(k^2) buffer the plan exists to
    remove, plus an output divergence from the star policy (ADVICE
    r12). So a provided sketch is untrusted by default
    (``sketch_covers_input=False``): the light route re-checks TRUE
    bucket size with the same O(1)-per-key count/min aggregation the
    heavy route already does, demoting est-light/true-heavy keys to
    the star path. Equality is again unconditional — a stale, partial,
    or even empty sketch only degrades the plan (one extra map-side
    combined count pass over light rows; the demotion broadcast is
    empty whenever the sketch really did cover the input), never the
    output or the buffer bound. Callers that can PROVE coverage (e.g.
    the sketch was just built over this exact frame) pass
    ``sketch_covers_input=True`` to skip the guard."""
    sigs = band_signatures(arrays, num_hashes, rows_per_band).withColumn(
        "ck",
        F.concat_ws(
            ":",
            F.col("band").cast("string"),
            F.col("key").cast("array<string>"),
        ),
    )
    if sketch is None:
        # Cold path: build the sketch in-query (one extra pass over the
        # signatures — checkpoint them so the pass runs once). Built
        # over exactly the input rows, so coverage holds by
        # construction and the light-route guard below is skipped. In
        # the deployment shape the sketch is MAINTAINED alongside the
        # persisted band-sig index (the `plan_cms_ingest_stream`
        # lifecycle: per-batch additive deltas), so the routing
        # estimate comes free from stored state and this branch never
        # runs — see `minhash_near_dup_pairs_cms_streamed`.
        sigs = sigs.localCheckpoint(eager=True)
        sketch = _plan_cms_build(sigs).localCheckpoint(eager=True)
        sketch_covers_input = True
    else:
        # Provided sketch: the routed stream feeds several consumers
        # (light expansion, heavy stats, demotion, star — plus the lag
        # guard's eager count/min job when untrusted), so materialize
        # the signatures once here too — without this,
        # band_signatures recomputes per consumer and the maintained-
        # state path pays ~4-6 full signature passes instead of one
        # (review r13), inverting its whole point.
        sigs = sigs.localCheckpoint(eager=True)
    routed = _plan_cms_attach_est(sigs, sketch)

    pair_expr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )

    def _expand(rows: DataFrame) -> DataFrame:
        return (
            rows.groupBy("band", "key")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") > 1)
            .select(F.explode(pair_expr).alias("p"))
        )

    light = routed.filter(F.col("est") <= max_bucket)
    heavy = routed.filter(F.col("est") > max_bucket)
    guard_star = None
    if not sketch_covers_input:
        # Lag guard (ADVICE r12): with an untrusted (maintained-state)
        # sketch, an underestimated key can route light while truly
        # over-cap. Exact count/min per light key — O(1) aggregation
        # buffers, map-side combined, never a list — then demote
        # true-heavies to the same star policy. Routing is per-key
        # (est is a function of the key alone), so every row of a
        # demoted key is here and min("doc_id") is the key's global
        # min — the static policy's sorted-ids[0].
        lag_heavy = (
            light.groupBy("band", "key")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("doc_id").alias("rep"),
            )
            .filter(F.col("cnt") > max_bucket)
            .select("band", "key", "rep")
            .localCheckpoint(eager=True)  # empty unless the sketch lags
        )
        guard_star = (
            light.join(F.broadcast(lag_heavy), ["band", "key"])
            .filter(F.col("doc_id") != F.col("rep"))
            .select(
                F.struct(
                    F.col("rep").alias("doc_a"),
                    F.col("doc_id").alias("doc_b"),
                ).alias("p")
            )
        )
        light = light.join(
            F.broadcast(lag_heavy.select("band", "key")),
            ["band", "key"],
            "left_anti",
        )
    stats = (
        heavy.groupBy("band", "key")
        .agg(
            F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("rep")
        )
        .localCheckpoint(eager=True)  # tiny: est-heavy keys only
    )
    false_heavy = stats.filter(F.col("cnt") <= max_bucket)
    demoted = heavy.join(
        F.broadcast(false_heavy.select("band", "key")),
        ["band", "key"],
        "left_semi",
    )
    true_heavy = stats.filter(F.col("cnt") > max_bucket).select(
        "band", "key", "rep"
    )
    star = (
        heavy.join(F.broadcast(true_heavy), ["band", "key"])
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.struct(
                F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
            ).alias("p")
        )
    )
    out = _expand(light).unionByName(_expand(demoted)).unionByName(star)
    if guard_star is not None:
        out = out.unionByName(guard_star)
    return out.select("p.doc_a", "p.doc_b").distinct()


def native_minhash_near_dup_pairs_cms_planned(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket: int = 64,
    sketch: DataFrame | None = None,
    sketch_covers_input: bool = False,
) -> DataFrame:
    """`native_minhash_near_dup_pairs(..., max_bucket, "star")` with the
    sketch-informed candidate plan — identical verified output. Pass
    ``sketch`` (e.g. `streaming/ingest.py::read_plan_cms` state) to
    route from maintained estimates instead of an in-query build; the
    untrusted-sketch lag guard keeps the output identical even when
    that state lags the corpus (see
    `native_minhash_candidates_cms_planned`)."""
    arrays = doc_shingle_arrays(docs, n)
    cands = native_minhash_candidates_cms_planned(
        arrays,
        num_hashes,
        rows_per_band,
        max_bucket,
        sketch=sketch,
        sketch_covers_input=sketch_covers_input,
    )
    return _verify_pairs(arrays, cands, threshold)


def native_minhash_near_dup_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    oversize: str = "drop",
) -> DataFrame:
    """Native-expression MinHash near-dup pairs: identical output
    contract (and, given recall 1, identical output) to
    `minhash_near_dup_pairs`, at a fraction of the cost — no vector
    construction, no Python/MLlib model, every stage codegen'd."""
    arrays = doc_shingle_arrays(docs, n)
    cands = native_minhash_candidates(
        arrays, num_hashes, rows_per_band, max_bucket, oversize
    )
    return _verify_pairs(arrays, cands, threshold)


def incremental_neardup_pairs(
    existing: DataFrame,
    batch: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_key_df: int | None = None,
) -> DataFrame:
    """Incremental NEAR-dup indexing: match a NEW ingest batch against
    the already-indexed corpus without re-pairing the corpus — the
    operator a daily 100 TB pipeline actually runs (`exact`-tier twin:
    `corpus.incremental_dedup_new_docs`). Signatures are computed for
    the new batch only; the existing side is the persisted
    `band_signatures` index (recomputed here from the split because the
    check corpus is one table — at scale it is a stored table bucketed
    by (band, key), so the probe join is co-located and shuffle-free on
    the index side), and cost tracks BATCH size, not corpus size.

    Pipeline: batch signatures → equi-join against the index on
    (band, key) → exact Jaccard verification of the candidate
    (new, indexed) pairs only. Because a document's signature does not
    depend on which side it sits on, the candidate set is exactly the
    cross-pair subset of `native_minhash_candidates(existing ∪ batch)`
    — so the empirically-asserted recall-1 property of the full-corpus
    banding carries over to the incremental form unchanged.

    ``max_key_df`` optionally drops index band-keys matched by more
    than that many indexed documents (the degenerate-bucket cap, same
    economics as `max_bucket` / SimHash): default None because the
    registered query's oracle asserts recall 1 at the check SF.

    Output: (new_doc_id, matched_doc_id, n_common, jaccard) — one row
    per verified near-duplicate link from a batch document to an
    indexed document. Downstream, a batch doc with ≥1 link is dropped
    (or routed to its matched keeper's cluster); unlinked docs are new
    content and get their signatures appended to the index.
    """
    arrays_old = doc_shingle_arrays(existing, n)
    return incremental_neardup_from_index(
        band_signatures(arrays_old, num_hashes, rows_per_band),
        arrays_old,
        batch,
        n=n,
        threshold=threshold,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        max_key_df=max_key_df,
    )


def incremental_neardup_from_index(
    index_sigs: DataFrame,
    index_arrays: DataFrame,
    batch: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_key_df: int | None = None,
) -> DataFrame:
    """`incremental_neardup_pairs` against PRE-BUILT index tables — the
    production entry point. ``index_sigs`` is the persisted
    `band_signatures` table (doc_id, band, key); ``index_arrays`` the
    persisted per-doc shingle arrays (doc_id, shingles). A daily ingest
    stores both (bucketed by (band, key) and doc_id respectively), so
    the only per-batch compute is: shingle + sign the batch, probe the
    signature table, verify candidates. The probe and verify joins both
    broadcast the batch-sized side under AQE, so the index is scanned
    (columnar, pruned) but never shuffled — per-batch cost tracks batch
    size plus one index scan, not a corpus re-pairing (BENCH_sf1.md
    records a fixed-batch measurement of exactly this)."""
    index = index_sigs.select(F.col("doc_id").alias("doc_a"), "band", "key")
    if max_key_df is not None:
        hot = (
            index.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_key_df)
            .select("band", "key")
        )
        index = index.join(hot, ["band", "key"], "left_anti")
    arrays_new = doc_shingle_arrays(batch, n)
    probes = band_signatures(arrays_new, num_hashes, rows_per_band).select(
        F.col("doc_id").alias("doc_b"), "band", "key"
    )
    cands = (
        probes.join(index, ["band", "key"])
        # Self-pair guard: when a batch's own signatures have already
        # landed in the index (at-least-once replay of a foreachBatch
        # whose writes committed before the checkpoint did), every
        # survivor would candidate-match itself at jaccard=1 and be
        # dropped. The stream layer also excludes the replayed batch's
        # partition; this filter is the defense-in-depth for any other
        # caller that probes an index containing the probe docs.
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = _verify_pairs(
        index_arrays.unionByName(arrays_new), cands, threshold
    )
    return verified.select(
        F.col("doc_b").alias("new_doc_id"),
        F.col("doc_a").alias("matched_doc_id"),
        "n_common",
        "jaccard",
    )
