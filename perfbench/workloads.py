"""The benchmark's workloads: which registry calls run, in which phase.

Every call is a registry query function run on the generated tables and
consumed with ``toPandas()`` inside the timed region. Each call is later
checked against the same query's DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from gen import Sizes


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: Sizes
    # Batch phase: run once cold, then repeated warm.
    batch: tuple[str, ...]
    # Closed-loop request cycle after each warm batch pass (one client).
    requests: tuple[str, ...] = field(default_factory=tuple)
    # Traced run only, after the measured window: calls that give a
    # layer its per-layer numbers without adding to the end-to-end
    # run time, and recall evaluations (results with n_hits and k).
    traced_only: tuple[str, ...] = field(default_factory=tuple)


WORKLOADS = {
    w.name: w
    for w in (
        # The reference's own jobs at driver scale: GDELT ETL and
        # analyses, the Common Crawl NLP job, the ML stages, the
        # organisation graph and the relational reports. Small inputs,
        # so per-call planning and driver work dominate.
        Workload(
            name="news_batch",
            sizes=Sizes(documents=300, embeddings=200),
            batch=(
                "gdelt_core_etl",
                "registrable_domain_extract",
                "doc_period_classify",
                "modality_counts",
                "bigram_topk",
                "semicolon_split_stats",
                "org_triangle_counts",
                "pricing_summary",
                "revenue_by_status",
            ),
        ),
        # Corpus curation and search on a larger corpus with a planted
        # near-duplicate share. The batch phase runs the composed
        # curate -> near-dup -> DSIR -> pack funnel and the sketch
        # prefilter; each warm pass is followed by one closed-loop cycle
        # of search requests (IVF, filtered IVF, BM25). Three warm units
        # give the trend check its three repetitions and the latency
        # metrics nine samples. The traced run then calls the watermarked
        # window stream, each stage of the funnel on its own, so the
        # curation, dedup, selection and packing layers own their Spark
        # jobs (inside the composed call they are lazy plans whose jobs
        # all run under `pipeline`), the takedown audit and the IVF recall
        # evaluation: their run time would not fit the untraced run's
        # budget.
        Workload(
            name="curate_search",
            sizes=Sizes(documents=600, embeddings=400, near_dup_share=0.2),
            batch=("corpus_pipeline_e2e", "bloom_dedup_prefilter"),
            requests=(
                "knn_cosine_ivf_native",
                "knn_cosine_filtered",
                "bm25_topk",
            ),
            traced_only=(
                "tumbling_window_counts_stream_watermarked",
                "corpus_curation_kept",
                "minhash_near_dup_pairs",
                "dsir_importance_weights",
                "corpus_pack_ffd",
                "corpus_takedown_audit",
                "knn_ivf_recall_eval",
            ),
        ),
    )
}
