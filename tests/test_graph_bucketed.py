"""Bucketed persisted-NSW-graph layout (VERDICT r10 #1): inserts and
takedowns must rewrite ONLY the bucket partitions holding a changed
src's neighbor list — untouched bucket dirs stay BYTE-identical on
disk — while the logical table stays exactly equal to the full-table
semantics (`nsw_insert_batch` / `nsw_takedown_edges`). Plus the legacy
single-dir migration, the emptied-bucket tombstone, and the
rebuild-from-vector-store recovery affordance.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
import pytest

from newsflow.sim.nsw import (
    GRAPH_BUCKETS,
    graph_bucket_expr,
    graph_layout_buckets,
    nsw_graph_edges_df,
    nsw_insert_batch,
    nsw_takedown_edges,
    nsw_takedown_update,
    read_graph_edges,
    write_graph_bucketed,
)
from newsflow.sim.pq import _unit
from newsflow.streaming.ingest import (
    ann_index_apply_batch,
    ann_index_init,
    ann_index_rebuild_graph,
)


def _emb(spark, n=60, dim=4):
    rows = [
        (i, [float((i * 7 + j * 3) % 11 + 1) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _bucket_states(path: str) -> dict[str, dict[str, str]]:
    """Per bucket=<b> partition dir: {relative file -> md5}. CRC/_SUCCESS
    included — byte-identical means byte-identical."""
    out: dict[str, dict[str, str]] = {}
    for name in os.listdir(path):
        sub = os.path.join(path, name)
        if not (name.startswith("bucket=") and os.path.isdir(sub)):
            continue
        files = {}
        for root, _, fnames in os.walk(sub):
            for f in fnames:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    files[os.path.relpath(p, sub)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        out[name] = files
    return out


def _edge_set(df):
    return {(r.src, r.dst, r.cosine_sim) for r in df.collect()}


def test_insert_rewrites_only_touched_buckets(spark, tmp_path):
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 50)
    batch = emb.filter(F.col("vec_id") >= 50)
    vectors, graph = str(tmp_path / "v"), str(tmp_path / "g")
    ann_index_init(spark, base, vectors_path=vectors, graph_path=graph)
    assert graph_layout_buckets(spark, graph) == GRAPH_BUCKETS

    edges0 = read_graph_edges(spark, graph).localCheckpoint(eager=True)
    before = _bucket_states(graph)
    ann_index_apply_batch(
        spark, batch, 0, vectors_path=vectors, graph_path=graph
    )
    after = _bucket_states(graph)

    # Logical equality with the full-table insert semantics.
    units0 = _unit(base, "vec_id")
    expected = nsw_insert_batch(units0, edges0, _unit(batch, "vec_id"))
    assert _edge_set(read_graph_edges(spark, graph)) == _edge_set(expected)

    # Filesystem invariant: buckets whose logical rows did not change
    # were never rewritten (byte-identical, including CRCs); at least
    # one bucket changed and at least one did not (else the assertion
    # is vacuous).
    changed_rows = _edge_set(expected) ^ _edge_set(edges0)
    touched = {
        f"bucket={r[0]}"
        for r in spark.createDataFrame(
            [(s,) for s, _, _ in changed_rows], "src long"
        )
        .select(graph_bucket_expr("src", GRAPH_BUCKETS).alias("b"))
        .distinct()
        .collect()
    }
    untouched = set(before) - touched
    assert touched and untouched, (len(touched), len(untouched))
    for b in untouched:
        assert after[b] == before[b], f"untouched {b} was rewritten"
    for b in touched:
        assert after[b] != before.get(b), f"touched {b} not rewritten"


def test_takedown_rewrites_only_touched_buckets(spark, tmp_path):
    emb = _emb(spark)
    units = _unit(emb, "vec_id")
    graph = str(tmp_path / "g")
    write_graph_bucketed(spark, graph, nsw_graph_edges_df(units))
    edges0 = read_graph_edges(spark, graph).localCheckpoint(eager=True)
    before = _bucket_states(graph)

    dels = spark.createDataFrame([(0,), (17,)], "vec_id long")
    survivors = units.filter(~F.col("vec_id").isin([0, 17]))
    out = nsw_takedown_update(spark, graph, dels, embeddings=emb)
    assert out["edges_removed_net"] > 0
    assert 0 < out["buckets_rewritten"] < GRAPH_BUCKETS

    expected = nsw_takedown_edges(edges0, dels, survivors)
    assert _edge_set(read_graph_edges(spark, graph)) == _edge_set(expected)

    after = _bucket_states(graph)
    changed_rows = _edge_set(expected) ^ _edge_set(edges0)
    touched = {
        f"bucket={r[0]}"
        for r in spark.createDataFrame(
            [(s,) for s, _, _ in changed_rows] + [(0,), (17,)],
            "src long",
        )
        .select(graph_bucket_expr("src", GRAPH_BUCKETS).alias("b"))
        .distinct()
        .collect()
    }
    untouched = set(before) - touched
    assert untouched, "test corpus too small to leave untouched buckets"
    for b in untouched:
        assert after[b] == before[b], f"untouched {b} was rewritten"


def test_takedown_migrates_legacy_layout(spark, tmp_path):
    """A pre-round-11 single-dir graph is migrated to the bucketed
    layout by its first takedown (one whole rewrite — exactly what the
    legacy path did every time), and the next takedown is incremental."""
    emb = _emb(spark, n=30)
    units = _unit(emb, "vec_id")
    graph = str(tmp_path / "g")
    nsw_graph_edges_df(units).write.parquet(graph)  # legacy layout
    assert graph_layout_buckets(spark, graph) is None

    dels = spark.createDataFrame([(3,)], "vec_id long")
    out = nsw_takedown_update(spark, graph, dels, embeddings=emb)
    assert out["buckets_rewritten"] == GRAPH_BUCKETS  # migration rewrite
    assert graph_layout_buckets(spark, graph) == GRAPH_BUCKETS
    expected = nsw_takedown_edges(
        nsw_graph_edges_df(units),
        dels,
        units.filter(F.col("vec_id") != 3),
    )
    assert _edge_set(read_graph_edges(spark, graph)) == _edge_set(expected)

    before = _bucket_states(graph)
    out2 = nsw_takedown_update(
        spark,
        graph,
        spark.createDataFrame([(9,)], "vec_id long"),
        embeddings=emb,
    )
    assert 0 < out2["buckets_rewritten"] < GRAPH_BUCKETS
    after = _bucket_states(graph)
    assert any(after[b] == before[b] for b in before if b in after)


def test_emptied_bucket_gets_tombstone(spark, tmp_path):
    """A takedown that deletes EVERY src of a bucket must leave no stale
    rows behind: dynamic overwrite cannot emit an empty partition, so
    the touched-but-empty bucket gets an explicit tombstone."""
    emb = _emb(spark, n=12)
    units = _unit(emb, "vec_id")
    graph = str(tmp_path / "g")
    # Many buckets >> nodes: most buckets hold exactly one src's rows.
    write_graph_bucketed(
        spark, graph, nsw_graph_edges_df(units), n_buckets=64
    )
    victim = 5
    dels = spark.createDataFrame([(victim,)], "vec_id long")
    nsw_takedown_update(spark, graph, dels, embeddings=emb)
    g = read_graph_edges(spark, graph)
    assert (
        g.filter(
            (F.col("src") == victim) | (F.col("dst") == victim)
        ).count()
        == 0
    )
    # Replay with the same list is a logical no-op.
    before = _edge_set(g)
    nsw_takedown_update(spark, graph, dels, embeddings=emb)
    assert _edge_set(read_graph_edges(spark, graph)) == before


def test_entries_takedown_repins_lost_cells(spark, tmp_path):
    """VERDICT r10 stretch: takedown over an IVF-BUILT graph with
    pinned per-cell entries. Deleting a pinned entry must (a) remove it
    from the stored entry list, (b) re-pin its cell to the minimum
    surviving member (the build's own rule), (c) purge it from the
    assignment map (cell-partition-pruned), and (d) leave every stored
    entry a live member of the post-takedown graph."""
    import pyspark.sql.functions as F

    from newsflow.sim.nsw import nsw_graph_edges_ivf

    # Clustered vectors so the IVF build gets real cells.
    emb = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.expr(
            """transform(sequence(0, 7), j ->
              cast(pmod(xxhash64(id % 8, j), 2000) - 1000 as double)
                / 1000.0
              + cast(pmod(xxhash64(id, j, 777), 200) - 100 as double)
                / 20000.0)"""
        ).alias("embedding"),
    )
    units = _unit(emb, "vec_id").localCheckpoint(eager=True)
    edges, entries, assigns = nsw_graph_edges_ivf(
        units, with_entries=True, with_assignments=True
    )
    graph = str(tmp_path / "g")
    epath = str(tmp_path / "entries")
    apath = str(tmp_path / "assigns")
    write_graph_bucketed(spark, graph, edges)
    entries = entries.localCheckpoint(eager=True)
    assigns = assigns.localCheckpoint(eager=True)
    entries.write.parquet(epath)
    assigns.write.partitionBy("cell").parquet(apath)

    victim = entries.orderBy("vec_id").first()
    cell_members = sorted(
        r.vec_id
        for r in assigns.filter(F.col("cell") == victim.cell).collect()
    )
    assert cell_members[0] == victim.vec_id  # pinned = min member
    dels = spark.createDataFrame([(victim.vec_id,)], "vec_id long")
    out = nsw_takedown_update(
        spark,
        graph,
        dels,
        embeddings=emb,
        entries_path=epath,
        assignments_path=apath,
    )
    assert out["entries_repinned"] == 1
    assert out["assignments_deleted"] == 1

    new_entries = spark.read.parquet(epath)
    ids = {r.vec_id for r in new_entries.select("vec_id").collect()}
    assert victim.vec_id not in ids
    repin = new_entries.filter(F.col("cell") == victim.cell).collect()
    survivors_in_cell = [m for m in cell_members if m != victim.vec_id]
    if survivors_in_cell:
        assert [r.vec_id for r in repin] == [survivors_in_cell[0]]
    else:
        assert repin == []
    # Assignment map purged; cell count preserved for survivors.
    a2 = spark.read.parquet(apath)
    assert a2.filter(F.col("vec_id") == victim.vec_id).count() == 0
    assert a2.count() == 79
    # Every stored entry is a live node of the post-takedown graph.
    g = read_graph_edges(spark, graph)
    nodes = g.select(F.col("src").alias("vec_id")).unionByName(
        g.select(F.col("dst").alias("vec_id"))
    ).distinct()
    assert (
        new_entries.select("vec_id").join(nodes, "vec_id", "left_anti")
        .count()
        == 0
    )
    # Replay with the same list: entry list and assignments stable.
    before = {(r.vec_id, r.cell) for r in new_entries.collect()}
    out2 = nsw_takedown_update(
        spark,
        graph,
        dels,
        embeddings=emb,
        entries_path=epath,
        assignments_path=apath,
    )
    assert out2["entries_repinned"] == 0
    assert out2["assignments_deleted"] == 0
    assert {
        (r.vec_id, r.cell) for r in spark.read.parquet(epath).collect()
    } == before


def _tear_one_bucket(graph: str) -> str:
    """Simulate a crash inside a bucket-overwrite commit window: delete
    every data file of one non-empty bucket (dir and bookkeeping files
    remain — the post-delete/pre-rename state)."""
    for name in sorted(os.listdir(graph)):
        sub = os.path.join(graph, name)
        if not (name.startswith("bucket=") and os.path.isdir(sub)):
            continue
        data = [f for f in os.listdir(sub) if not f.startswith(("_", "."))]
        if data:
            for f in data:
                os.remove(os.path.join(sub, f))
            return name
    raise AssertionError("no non-empty bucket to tear")


def test_torn_bucket_detected_on_read(spark, tmp_path):
    """Validate-on-read (VERDICT r11 Next #4): the post-commit manifest
    detects a bucket whose data files vanished mid-swap; the validating
    read fails loud instead of returning a graph missing base edges."""
    import pytest

    from newsflow.sim.nsw import TornGraphError, validate_graph_buckets

    emb = _emb(spark, n=40)
    vectors, graph = str(tmp_path / "v"), str(tmp_path / "g")
    ann_index_init(spark, emb, vectors_path=vectors, graph_path=graph)
    assert validate_graph_buckets(spark, graph) == []  # healthy

    torn_name = _tear_one_bucket(graph)
    torn = validate_graph_buckets(spark, graph)
    assert torn == [int(torn_name.split("=", 1)[1])]
    with pytest.raises(TornGraphError):
        read_graph_edges(spark, graph, validate=True)
    # The non-validating read keeps legacy behavior (callers that
    # handle recovery themselves).
    read_graph_edges(spark, graph).count()


def test_torn_bucket_auto_recovers_on_next_batch(spark, tmp_path):
    """The streaming ingest path self-heals: a batch applied onto a
    torn graph first rebuilds from the vector store (the durable
    source of truth), then inserts. The exact pre-tear bytes are
    unrecoverable by contract (bounded-degree mutation discards
    pruned edges), so the assertion is the recovery CONTRACT: the
    result is a VALID graph — every stored vector present with a
    neighbor list, degree <= M — and the refreshed manifest reports
    healthy."""
    from newsflow.sim.nsw import GRAPH_M, validate_graph_buckets

    emb = _emb(spark, n=60)
    base = emb.filter(F.col("vec_id") < 50)
    batch = emb.filter(F.col("vec_id") >= 50)

    vectors, graph = str(tmp_path / "v"), str(tmp_path / "g")
    ann_index_init(spark, base, vectors_path=vectors, graph_path=graph)
    _tear_one_bucket(graph)
    assert validate_graph_buckets(spark, graph)  # torn going in
    ann_index_apply_batch(
        spark, batch, 0, vectors_path=vectors, graph_path=graph
    )
    assert validate_graph_buckets(spark, graph) == []  # healed
    edges = read_graph_edges(spark, graph)
    srcs = {r.src for r in edges.select("src").distinct().collect()}
    assert srcs == set(range(60))  # no node lost to the tear
    max_deg = edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert max_deg <= GRAPH_M


def test_rebuild_from_vector_store(spark, tmp_path):
    """Recovery affordance for a lost/corrupted graph: rebuild from the
    append-only vector store, exact build, bucketed layout."""
    import shutil

    emb = _emb(spark, n=40)
    vectors, graph = str(tmp_path / "v"), str(tmp_path / "g")
    ann_index_init(spark, emb, vectors_path=vectors, graph_path=graph)
    expected = _edge_set(read_graph_edges(spark, graph))
    shutil.rmtree(graph)  # the disaster
    out = ann_index_rebuild_graph(
        spark, vectors, graph, use_ivf=False
    )
    assert out["nodes"] == 40 and out["edges"] == len(expected)
    assert graph_layout_buckets(spark, graph) == GRAPH_BUCKETS
    assert _edge_set(read_graph_edges(spark, graph)) == expected


@pytest.mark.parametrize("qid_type", ["long", "int", "string"])
def test_hop_pruned_search_matches_full_reads(spark, tmp_path, qid_type):
    """r15 hop pruning: `nsw_search_df` with a bucket-pruned hop reader
    must return exactly the rows and schema of the full-read form for
    any ``query_id`` type, the per-hop gate must engage when the
    frontier is selective, and the pruned relation's scan must carry
    the bucket partition filter (the 100 TB frontier-proportional-I/O
    evidence)."""
    from newsflow.sim.nsw import nsw_search_df

    emb = _emb(spark, n=80)
    units = _unit(emb, "vec_id")
    graph_path = str(tmp_path / "g")
    # High bucket count relative to the frontier so the gate engages.
    n_buckets = 512
    write_graph_bucketed(
        spark, graph_path, nsw_graph_edges_df(units, m=4),
        n_buckets=n_buckets,
    )
    bucketed = spark.read.parquet(graph_path)
    calls: list[list[int]] = []

    def hop_edges(bucket_ids):
        calls.append(list(bucket_ids))
        return bucketed.filter(
            F.col("bucket").isin([int(b) for b in bucket_ids])
        ).select("src", "dst", "cosine_sim")

    queries = _emb(spark, n=90).filter(F.col("vec_id") >= 80)
    qs = _unit(queries, "vec_id").select(
        F.col("vec_id").cast(qid_type).alias("query_id"), "u"
    )
    edges = read_graph_edges(spark, graph_path)
    full = nsw_search_df(units, edges, qs, ef=8, hops=3, n_entries=4)
    pruned = nsw_search_df(
        units, edges, qs, ef=8, hops=3, n_entries=4,
        hop_edges=hop_edges, n_buckets=n_buckets,
    )
    assert pruned.schema == full.schema
    rows_full = {tuple(r) for r in full.collect()}
    rows_pruned = {tuple(r) for r in pruned.collect()}
    assert rows_pruned == rows_full
    # the gate engaged (frontier << 512 buckets) on every hop
    assert len(calls) == 3
    assert all(0 < len(c) * 2 <= n_buckets for c in calls)
    # plan evidence: the pruned hop relation is partition-filtered
    plan = hop_edges(calls[0])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan, plan


def test_apply_batch_prunes_hop_reads_on_wide_layouts(spark, tmp_path):
    """End-to-end: `ann_index_apply_batch` on a wide bucketed layout
    produces the same stored graph whether or not its hop reads prune
    (parity vs the batch-mode `nsw_insert_batch` ground truth)."""
    emb = _emb(spark, n=70)
    base, wave = emb.filter("vec_id < 60"), emb.filter("vec_id >= 60")
    vectors, graph = str(tmp_path / "v"), str(tmp_path / "g")
    ann_index_init(
        spark, base, vectors_path=vectors, graph_path=graph,
        n_buckets=256,
    )
    from newsflow.sim.nsw import (
        NSW_EF_CONSTRUCTION,
        NSW_HOPS_CONSTRUCTION,
    )

    stored0 = read_graph_edges(spark, graph)
    expected = nsw_insert_batch(
        _unit(base, "vec_id"),
        stored0,
        _unit(wave, "vec_id"),
        ef=NSW_EF_CONSTRUCTION,
        hops=NSW_HOPS_CONSTRUCTION,
    )
    expected_rows = _edge_set(expected)
    ann_index_apply_batch(
        spark, wave, 0, vectors_path=vectors, graph_path=graph
    )
    assert _edge_set(read_graph_edges(spark, graph)) == expected_rows
