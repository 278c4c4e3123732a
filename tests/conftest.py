"""Shared pytest fixtures: one SparkSession and one DuckDB connection per
test session, plus the sf-dir paths."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from newsflow.session import get_spark
from newsflow.tables import TABLES
from tests.oracle_utils import MemoizedOracle

SF_SMOKE = os.environ.get("NEWSFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("NEWSFLOW_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # Overridable so the parity suite can be replayed under DIFFERENT
    # parallelism (the correctness driver runs its own session with
    # other core/shuffle-partition counts — partitioning-dependent bugs
    # hide if local tests only ever see one layout):
    #   NEWSFLOW_TEST_MASTER=local[4] NEWSFLOW_TEST_SHUFFLE=200 pytest …
    spark = get_spark(
        app_name="newsflow-tests",
        master=os.environ.get("NEWSFLOW_TEST_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("NEWSFLOW_TEST_SHUFFLE", "8")),
    )
    yield spark
    spark.stop()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the testdata tables pre-registered as views,
    mirroring the correctness driver's setup."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    con = make_duck(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_oracle():
    """The sf0.01 connection. Its oracle results are memoized: the
    testdata files are read-only, so each oracle runs once per session."""
    con = make_duck(SF_ORACLE)
    yield MemoizedOracle(con)
    con.close()


def drop_cached_blocks(spark) -> int:
    """Remove every cached RDD block from the block managers, as losing
    the executors that held them would, while every frame stays
    registered with the cache manager and every RDD stays marked
    persisted. Returns the number of RDDs whose blocks were dropped."""
    master = spark._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    rdd_ids = list(spark.sparkContext._jsc.getPersistentRDDs().keys())
    for rdd_id in rdd_ids:
        master.removeRdd(rdd_id, True)
    return len(rdd_ids)
