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
  telling this module; the entry is rebuilt, not served half-gone), and
- every entry it was built over is still its slot's entry and passes
  these checks itself (a plan over a rebuilt artifact reads a new RDD).

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
build. A ``plan/<query>`` entry (`prepared`) shares a plan, never a
result: each call executes a new frame over it and runs every job.

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

A registry call's plan, too, is kept only from a build that ran no Spark
job (`prepared`): a build that writes, streams or collects eagerly is a
side effect, and runs again on every call.

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
- ``plan/<query>`` (every table file `load_table` opened while the plan
  was built, and every entry above that `get` served to it; `prepared`):
  a never-executed frame over a registry query's analyzed plan, kept
  only from a build that ran no Spark job — every ``QuerySpec.build``.
  Beyond the file stamp, each entry it read must still be its slot's
  current entry and current itself.
"""

from __future__ import annotations

import functools
import itertools
import threading
from dataclasses import dataclass
from typing import Callable, Sequence, TypeVar

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from newsflow.tables import (
    _apply_runtime_confs_once,
    _schema_cache_key,
    logging_reads,
    note_read,
    table_path,
)

T = TypeVar("T")
QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True, eq=False)
class _Entry:
    # `_schema_cache_key` of each table file the value was built from.
    stamp: tuple
    value: object
    frames: tuple[DataFrame, ...] = ()
    slot: tuple = ()
    # The artifact entries the value was built over.
    reads: tuple[_Entry, ...] = ()

    def current(self) -> bool:
        """The files are unchanged, every frame is still cached, and each
        entry read is still its slot's current entry and current itself."""
        return (
            all(_schema_cache_key(key[0]) == key for key in self.stamp)
            and all(f.storageLevel.useMemory for f in self.frames)
            and all(
                _ENTRIES.get(e.slot) is e and e.current() for e in self.reads
            )
        )


_ENTRIES: dict[tuple, _Entry] = {}
# One lock per slot serializes builds of the same artifact (concurrent
# cold requests wait for one build instead of each running their own);
# _LOCK guards the two dicts themselves.
_SLOT_LOCKS: dict[tuple, threading.Lock] = {}
_LOCK = threading.Lock()


def _slot(spark: SparkSession, kind: str, sf_dir: str) -> tuple:
    """The slot of ``kind`` over ``sf_dir`` in this application. Entries
    of any other application are dropped first."""
    app = spark.sparkContext.applicationId
    with _LOCK:
        for k in [k for k in _ENTRIES if k[0] != app]:
            del _ENTRIES[k]
        for k in [k for k in _SLOT_LOCKS if k[0] != app]:
            del _SLOT_LOCKS[k]
    return (app, kind, sf_dir)


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
    slot = _slot(spark, kind, sf_dir)
    with _LOCK:
        slot_lock = _SLOT_LOCKS.setdefault(slot, threading.Lock())
    with slot_lock:
        hit = _ENTRIES.get(slot)
        if hit is None or not hit.current():
            if hit is not None:
                for f in hit.frames:
                    f.unpersist()
            stamp = tuple(
                _schema_cache_key(table_path(sf_dir, t)) for t in tables
            )
            value, frames = build()
            hit = _Entry(stamp, value, tuple(frames), slot)
            with _LOCK:
                _ENTRIES[slot] = hit
        note_read(hit)
        return hit.value


_GROUP = "spark.jobGroup.id"
_OWN_GROUPS = itertools.count()


def _jobs_run(
    spark: SparkSession, fn: Callable[[], T]
) -> tuple[T, int | None]:
    """``fn()`` and the number of Spark jobs it ran: the new jobs of this
    thread's job group, or of a group of our own (cleared afterwards)
    when the caller set none. The job description is left alone. None
    if the count could not be settled."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = sc.getLocalProperty(_GROUP)
    before: set[int] = set()
    if group is None:
        group = f"newsflow-plan-{next(_OWN_GROUPS)}"
        sc.setLocalProperty(_GROUP, group)
        try:
            value = fn()
        finally:
            sc.setLocalProperty(_GROUP, None)
    else:
        before = set(tracker.getJobIdsForGroup(group))
        value = fn()
    # The status tracker learns of a job from the listener bus, which
    # may not have delivered its start event yet.
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JJavaError:  # a listener held the bus past the timeout
        return value, None
    return value, len(set(tracker.getJobIdsForGroup(group)) - before)


def prepared(name: str, build: QueryFn) -> QueryFn:
    """``build`` with its plan kept as the ``plan/<name>`` kind.

    The first build over ``sf_dir`` that runs no Spark job keeps a frame
    over the plan it returns, and that frame is never executed. A later
    call gets a new frame over that plan, so it still runs every job:
    only the Python build, SQL parsing and analysis are skipped. The
    frame the caller runs is never run again, because adaptive execution
    would then read the shuffle stages it materialized. A build that ran
    a job (a write, a stream, an eager collect, a cold artifact) keeps
    nothing, and the next call builds again.

    The plan is stamped with every table file `load_table` opened and
    every artifact entry `get` served while it was built. It is served
    while the files are unchanged and each of those entries is still its
    slot's current entry, so a rewritten file, ``clearCache()`` or a
    rebuilt artifact each lead to a fresh build."""
    kind = f"plan/{name}"

    @functools.wraps(build)
    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        _apply_runtime_confs_once(spark)
        slot = _slot(spark, kind, sf_dir)
        hit = _ENTRIES.get(slot)
        if (
            hit is not None
            and hit.value.sparkSession is spark
            and hit.current()
        ):
            return hit.value.select("*")
        with logging_reads() as log:
            df, jobs = _jobs_run(spark, lambda: build(spark, sf_dir))
        entry = None
        if jobs == 0 and isinstance(df, DataFrame) and not df.isStreaming:
            read = dict.fromkeys(log)
            entry = _Entry(
                tuple(k for k in read if type(k) is tuple),
                df.select("*"),
                slot=slot,
                reads=tuple(e for e in read if type(e) is _Entry),
            )
        with _LOCK:
            if entry is not None:
                _ENTRIES[slot] = entry
            else:
                _ENTRIES.pop(slot, None)
        return df

    return call


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
