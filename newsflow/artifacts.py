"""Session-scoped artifact cache: the indexes, projections and fitted
weights that many requests read and only a corpus change should rebuild.

An entry lives in a slot keyed on (Spark application id, kind, sf_dir)
and is stamped with the identity of every table file it was built from
(`tables._schema_cache_key`: path, size, mtime_ns). A lookup returns the
entry's value while

- the stamp still matches the files on disk (a table rewritten in place
  under the same sf_dir rebuilds), and
- every DataFrame the entry owns is still registered with the cache
  manager (``spark.catalog.clearCache()`` deregisters frames without
  telling this module; the entry is rebuilt, not served half-gone).

Otherwise the entry is rebuilt. The entry it replaces has its frames
unpersisted BEFORE the build runs: Spark's cache manager substitutes any
persisted plan that matches a new one, and the old and new builds of a
rewritten file plan identically (same path, same schema), so a stale
frame left registered would be served as the new build's data.

Entries owned by another application belong to a stopped SparkContext:
they are dropped without calling into them (unpersist on a dead context
raises and would fail the new session's first request).

Frames are persisted with ``persist()`` (MEMORY_AND_DISK), not
``localCheckpoint``: a lost executor's blocks recompute from lineage on
a cluster, where a local checkpoint would fail the request.

Only the artifact is shared. Each request still reads its own inputs and
runs its own plan over the artifact, so results are those of a fresh
build.

When to materialize an intermediate result. A registry query returns a
lazy DataFrame and its caller runs the action, so a query cannot release
what it persisted: a query-scoped ``cache()``/``persist()`` leaks, and
because a table rewritten in place plans like the old one, the leaked
frame is served as the new file's data. An eager ``localCheckpoint``
cuts the lineage, so a lost block fails the query instead of
recomputing. That leaves three legal forms:

1. Corpus-level state goes in this cache, built through `persisted`.
2. Reuse within one request uses no barrier: rely on Catalyst's
   ``ReusedExchange``, and accept a recompute where it does not fire.
3. Request-level state that measurably pays becomes an artifact keyed on
   the request's parameters too.

`tests/test_materialization_sites.py` counts the remaining
``cache``/``persist``/``localCheckpoint`` calls per file against an
allowlist that may only shrink.

The kinds held here, and their users:

- ``gdelt_core`` (documents; `etl.queries._core_df`): the gdelt core
  table — the eight gdelt analyses in `etl/queries.py`, `org_pagerank`
  and, through ``org_edges``, `org_triangle_counts`.
- ``org_edges`` (documents; `graph._org_edges`): the degree-ordered
  undirected org co-mention edges, built from ``gdelt_core`` —
  `org_triangle_counts`.
- ``curated`` (documents; `curation.cached_curated`): the curation
  funnel's keeper table — the exact-dedup keepers of the quality and
  language gate with their near-dup flag, no text —
  `corpus_curation_kept`, `corpus_curation_funnel` and
  `corpus_pipeline_e2e`.
- ``dsir_weights`` (documents; `selection.cached_dsir_weights`): the
  per-document DSIR importance weights — `dsir_importance_weights`,
  `dsir_top_docs` and `corpus_pipeline_e2e`.
- ``ivf_native`` (embeddings; `sim.ivf.cached_native_ivf_index`): the
  deterministic-quantizer IVF index — `knn_cosine_ivf_native`,
  `knn_cosine_filtered`, `knn_ivf_recall_eval`,
  `knn_filtered_recall_eval`.
- ``ivf_mllib/<n_cells>`` (embeddings; `sim.ivf.cached_ivf_index`): the
  MLlib-quantizer IVF index — `knn_cosine_ivf`.
- ``shingle_arrays`` (documents; `dedup.queries._shared_shingle_arrays`):
  the 3-gram shingle projection — `dedup_lsh_recall_eval`,
  `near_dup_cluster_agreement`, `split_leakage_audit`,
  `corpus_cluster_split`, `corpus_takedown_audit`,
  `corpus_takedown_ffd_audit`, and through
  `dedup.queries._verified_pairs` the MinHash pair queries
  (`minhash_near_dup_pairs`, its `_cms_planned`, `_cms_streamed` and
  `_mllib` forms), `near_dup_clusters_lsh` and
  `streaming_takedown_exec`.
- ``quality_clf`` and ``quality_clf/sampled`` (documents;
  `ml.quality_clf`): the fitted quality-classifier weights —
  `quality_clf_coefficients`, `quality_clf_filter_eval` and
  `quality_clf_sampled_teacher_eval`.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable, Sequence, TypeVar

from pyspark.sql import DataFrame, SparkSession

from newsflow.tables import _schema_cache_key, table_path

T = TypeVar("T")


@dataclass(frozen=True)
class _Entry:
    stamp: tuple
    value: object
    frames: tuple[DataFrame, ...]

    def live(self) -> bool:
        return all(f.storageLevel.useMemory for f in self.frames)


_ENTRIES: dict[tuple, _Entry] = {}
# One lock per slot serializes builds of the same artifact (concurrent
# cold requests wait for one build instead of each running their own);
# _LOCK guards the two dicts themselves.
_SLOT_LOCKS: dict[tuple, threading.Lock] = {}
_LOCK = threading.Lock()


def get(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[], tuple[T, Sequence[DataFrame]]],
) -> T:
    """The ``kind`` artifact built from ``tables`` under ``sf_dir``.

    ``build()`` returns ``(value, frames)``: the artifact and the
    DataFrames it persisted, which the entry then owns (and unpersists
    when it is replaced)."""
    app = spark.sparkContext.applicationId
    slot = (app, kind, sf_dir)
    stamp = tuple(_schema_cache_key(table_path(sf_dir, t)) for t in tables)
    with _LOCK:
        for k in [k for k in _ENTRIES if k[0] != app]:
            del _ENTRIES[k]
        for k in [k for k in _SLOT_LOCKS if k[0] != app]:
            del _SLOT_LOCKS[k]
        slot_lock = _SLOT_LOCKS.setdefault(slot, threading.Lock())
    with slot_lock:
        hit = _ENTRIES.get(slot)
        if hit is not None and hit.stamp == stamp and hit.live():
            return hit.value
        if hit is not None:
            for f in hit.frames:
                f.unpersist()
        value, frames = build()
        with _LOCK:
            _ENTRIES[slot] = _Entry(stamp, value, tuple(frames))
        return value


def persisted(df: DataFrame) -> DataFrame:
    """``df``'s rows as a persisted frame whose logical plan is one scan
    of ``df``'s RDD: the frame-valued artifacts' ``build()`` step.

    Not ``df.persist()`` itself: a cached relation carries its whole
    build plan under it, and Spark renders a query's plan several times
    per run (at its start and at each adaptive re-plan). Every request
    would pay for the build's plan again; for the gdelt core, whose
    domain expression holds the ~9.5k public-suffix literals, a
    triangle count rendered 18 MB of plan text per call. Over the RDD
    the plan is one ``Scan ExistingRDD``.

    Unlike ``localCheckpoint``, the RDD keeps its lineage, so a lost
    block recomputes. Taking the RDD runs ``df``'s shuffle stages now
    (adaptive execution materializes them before it plans the final
    stage); the final stage runs, and fills the cache, inside the first
    action that reads the frame: no count job of its own."""
    spark = df.sparkSession
    rows = spark._jsparkSession.createDataFrame(
        df._jdf.javaRDD(), df._jdf.schema()
    )
    return DataFrame(rows, spark).persist()
