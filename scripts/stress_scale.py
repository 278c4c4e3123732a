"""Scale-up stress run: the dedup/ANN paths on a corpus 5x the largest
testdata SF, with realistic near-dup structure (each doc replicated with
a distinct suffix -> pairwise Jaccard ~0.9, NOT byte-identical).

Usage: python scripts/stress_scale.py [copies]
Prints one JSON line with corpus sizes, output sizes, and wall times.
This is evidence for the would-it-survive-100x question: all stages are
shuffle-bounded (signature join, hash groupBy), so wall-clock should
scale ~linearly in corpus size + near-dup pair count.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from newsflow.dedup import core, minhash, simhash  # noqa: E402
from newsflow.session import get_spark  # noqa: E402
from newsflow import curation  # noqa: E402
from newsflow.sim.hyperplane import hyperplane_topk  # noqa: E402
from newsflow.sim.ivf import build_ivf_index, ivf_search  # noqa: E402
from newsflow.tables import load_table  # noqa: E402


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="newsflow-stress")
    spark.range(1000).selectExpr("sum(id)").collect()

    docs = load_table(spark, sf_dir, "documents")
    big_docs = None
    for i in range(copies):
        c = docs.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            F.concat("text", F.lit(f" stresscopy{i}")).alias("text"),
            "lang",
            "source",
        )
        big_docs = c if big_docs is None else big_docs.union(c)
    big_docs = big_docs.cache()
    n_docs = big_docs.count()

    t0 = time.perf_counter()
    n_groups = core.exact_dedup_keep_min(
        big_docs.withColumn("text", F.regexp_replace("text", " stresscopy\\d+", ""))
    ).count()
    t_exact = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_pairs = minhash.native_minhash_near_dup_pairs(
        big_docs, n=3, threshold=0.8
    ).count()
    t_minhash = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_curated = curation.curate(big_docs, spark).count()
    t_curate = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_simhash = simhash.simhash_near_dup_pairs(big_docs).count()
    t_simhash = time.perf_counter() - t0

    # Round-3 corpus-maintenance ops on the same 10x corpus.
    from newsflow.corpus import CHUNK_SIZE, CHUNK_STRIDE  # noqa: F401
    from newsflow.functions.text import tokens_expr

    t0 = time.perf_counter()
    toks = big_docs.select("doc_id", tokens_expr("text").alias("t")).filter(
        F.size("t") > 0
    )
    starts = F.expr(f"sequence(0, size(t) - 1, {CHUNK_STRIDE})")
    n_chunks = (
        toks.select("doc_id", F.explode(starts).alias("i"))
        .count()
    )
    t_chunk = time.perf_counter() - t0

    emb = load_table(spark, sf_dir, "embeddings")
    big_emb = None
    for i in range(copies):
        c = emb.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            "embedding",
            "label",
        )
        big_emb = c if big_emb is None else big_emb.union(c)
    big_emb = big_emb.cache()
    n_vecs = big_emb.count()
    queries = big_emb.filter(F.col("vec_id") < 16)

    t0 = time.perf_counter()
    index = build_ivf_index(big_emb, n_cells=16)
    n_knn = ivf_search(index, queries, k=5, n_probe=4).count()
    index.lists.unpersist()
    t_ivf = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_lsh = hyperplane_topk(big_emb, queries, k=5).count()
    t_lsh = time.perf_counter() - t0

    from newsflow.sim.kmeans import kmeans_assign

    t0 = time.perf_counter()
    n_km = kmeans_assign(big_emb).count()
    t_kmeans = time.perf_counter() - t0

    # Round-3 second wave: retrieval / LM / embedding-health tiers.
    from newsflow.retrieval import bm25_topk_df, unigram_nll_df
    from newsflow.sim.health import exploded_df, int8_quant_error_df

    t0 = time.perf_counter()
    n_bm25 = bm25_topk_df(big_docs).count()
    t_bm25 = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_nll = unigram_nll_df(big_docs).count()
    t_nll = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_quant = int8_quant_error_df(exploded_df(big_emb)).count()
    t_quant = time.perf_counter() - t0

    # Maintenance ops at scale: day-partitioned corpus, merge ONE day's
    # batch, then compact that day — wall must track the touched
    # partition's size, not the corpus.
    import tempfile

    from newsflow.ops.merge import compact_partitions, merge_upsert

    tmp = tempfile.mkdtemp(prefix="stress_merge_")
    day_docs = big_docs.withColumn(
        "day", (F.col("doc_id") % 10).cast("string")
    )
    day_docs.write.mode("overwrite").partitionBy("day").parquet(tmp)
    batch = (
        day_docs.filter(F.col("day") == "3")
        .select("doc_id", F.concat("text", F.lit(" merged")).alias("text"),
                "lang", "source", "day")
    )
    t0 = time.perf_counter()
    mstats = merge_upsert(spark, tmp, batch, key="doc_id", partition_col="day")
    t_merge = time.perf_counter() - t0
    t0 = time.perf_counter()
    cstats = compact_partitions(spark, tmp, "day", min_files=2)
    t_compact = time.perf_counter() - t0
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)

    print(
        json.dumps(
            {
                "copies": copies,
                "n_docs": n_docs,
                "exact_dedup_groups": n_groups,
                "exact_dedup_sec": round(t_exact, 1),
                "minhash_pairs": n_pairs,
                "minhash_sec": round(t_minhash, 1),
                "curated_docs": n_curated,
                "curation_sec": round(t_curate, 1),
                "simhash_pairs": n_simhash,
                "simhash_sec": round(t_simhash, 1),
                "n_vectors": n_vecs,
                "ivf_topk_rows": n_knn,
                "ivf_sec": round(t_ivf, 1),
                "hyperplane_lsh_rows": n_lsh,
                "hyperplane_lsh_sec": round(t_lsh, 1),
                "chunk_rows": n_chunks,
                "chunking_sec": round(t_chunk, 1),
                "kmeans_rows": n_km,
                "kmeans_sec": round(t_kmeans, 1),
                "bm25_rows": n_bm25,
                "bm25_sec": round(t_bm25, 1),
                "unigram_nll_rows": n_nll,
                "unigram_nll_sec": round(t_nll, 1),
                "int8_quant_rows": n_quant,
                "int8_quant_sec": round(t_quant, 1),
                "merge_upserts": mstats["upserts"],
                "merge_sec": round(t_merge, 1),
                "compact_files_before": cstats["files_before"],
                "compact_files_after": cstats["files_after"],
                "compact_sec": round(t_compact, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
