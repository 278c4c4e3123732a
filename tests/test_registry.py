"""The query registry and the ``__spark_entry__`` contract over it."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from newsflow import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own interpreter: a plain local session with none of the
# newsflow confs, so the engine must configure the session itself.
_VANILLA_CONTRACT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
n = e.entry(spark).count()
assert n > 0, "entry() returned no rows"
qs, osql = e.queries(), e.oracle_sql()
assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
print(f"contract OK: entry rows={{n}}, {{len(qs)}} queries, {{len(osql)}} oracles")
spark.stop()
"""


def test_entry_contract_on_a_vanilla_session():
    out = subprocess.run(
        [sys.executable, "-c", _VANILLA_CONTRACT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
    assert "contract OK" in out.stdout


def test_unknown_query_module_raises(monkeypatch):
    monkeypatch.setattr(
        registry,
        "_QUERY_MODULES",
        (*registry._QUERY_MODULES, "newsflow.no_such_query_module"),
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_query_module"):
        registry.queries()


def test_oracled_queries_come_first_in_registration_order():
    specs = list(registry.all_specs().values())
    n_oracled = sum(1 for s in specs if s.oracle)
    assert all(s.oracle for s in specs[:n_oracled])
    assert not any(s.oracle for s in specs[n_oracled:])
    registered = list(registry._REGISTRY)
    assert [s.name for s in specs[:n_oracled]] == [
        n for n in registered if registry._REGISTRY[n].oracle
    ]
