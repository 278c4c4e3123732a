"""The gate rehearsal: every registered query with an oracle must match
DuckDB exactly at sf0.01 — the same scale the correctness driver uses."""

from __future__ import annotations

import pytest

from newsflow import registry
from tests.conftest import SF_ORACLE
from tests.oracle_utils import assert_parity

SPECS = registry.all_specs()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle)
NO_ORACLE_NAMES = sorted(n for n, s in SPECS.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck_oracle, name):
    spec = SPECS[name]
    sdf = spec.build(spark, SF_ORACLE)
    assert_parity(sdf, spec.oracle, duck_oracle, name=name)


@pytest.mark.parametrize("name", NO_ORACLE_NAMES)
def test_rows_only_query_runs(spark, name):
    """Queries without an oracle (non-SQL-expressible) must still run and
    produce a stable schema."""
    spec = SPECS[name]
    sdf = spec.build(spark, SF_ORACLE)
    assert len(sdf.columns) > 0
    assert sdf.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) == len(SPECS)


# Queries whose EMPTY result at sf0.01 is the operator's honest answer
# (not a dead constant): the fixture has no byte-identical duplicate
# texts, so the >= 2 duplicate-GROUP query legitimately returns nothing
# (its keeper twin `dedup_exact_keep_min` carries the 500-row signal).
LEGITIMATELY_EMPTY = {"dedup_exact_groups"}


def test_no_oracle_is_permanently_empty(duck_oracle):
    """A Spark-vs-DuckDB hash match on an empty result proves nothing —
    round 3 found TPC-H Q3 constants outside the fixture's date range
    riding green on 0 == 0 for two rounds. Every oracle must produce
    rows at the check SF unless explicitly allowlisted with a reason."""
    empty = []
    for name in ORACLE_NAMES:
        if name in LEGITIMATELY_EMPTY:
            continue
        if len(duck_oracle.oracle_df(SPECS[name].oracle)) == 0:
            empty.append(name)
    assert not empty, f"permanently-empty oracles (dead constants?): {empty}"
