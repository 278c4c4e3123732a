"""Local rehearsal of the correctness driver's Spark-vs-DuckDB comparison.

Mirrors the driver semantics: sort columns by name, compare row count,
column names, and values order-insensitively. Comparison here is EXACT
(no float tolerance) — the driver hashes values, so any bit drift that
would fail the gate must fail these tests too.
"""

from __future__ import annotations

import datetime

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _kind(dtype) -> str:
    """Collapse a pandas dtype to the equivalence class the driver's value
    hash distinguishes: all integer widths stringify alike, but int vs
    float vs object (DuckDB HUGEINT/DECIMAL land as float64/object) do
    NOT — ``1000`` hashes differently from ``1000.0``."""
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        # Unify integer widths only (Spark int32 vs DuckDB int64 etc.);
        # never coerce across kinds — the driver's hash would not.
        if pd.api.types.is_integer_dtype(pdf[c].dtype):
            pdf[c] = pdf[c].astype("int64")
        elif pdf[c].dtype == object:
            # Spark DATE lands as object(datetime.date); DuckDB DATE as
            # datetime64. Round 1 proved the driver hash-matches the two
            # (daily_funnel_reconciliation green in CORRECTNESS_r01), so
            # unify them here rather than flagging a false kind mismatch.
            first = pdf[c].dropna().head(1)
            if len(first) and isinstance(
                first.iloc[0], datetime.date
            ) and not isinstance(first.iloc[0], datetime.datetime):
                pdf[c] = pd.to_datetime(pdf[c])
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


class MemoizedOracle:
    """A DuckDB connection whose query results are kept per SQL text, so
    each oracle runs once per test session however many tests read it.
    Only for connections over read-only table files: a memoized result
    would not see a file rewritten under it."""

    def __init__(self, con: duckdb.DuckDBPyConnection):
        self._con = con
        self._results: dict[str, pd.DataFrame] = {}

    def oracle_df(self, sql: str) -> pd.DataFrame:
        if sql not in self._results:
            self._results[sql] = self._con.execute(sql).df()
        return self._results[sql]


def assert_parity(
    sdf: DataFrame,
    oracle: str,
    con: duckdb.DuckDBPyConnection | MemoizedOracle,
    name: str = "?",
) -> None:
    spdf = normalize(sdf.toPandas())
    opdf = normalize(
        con.oracle_df(oracle)
        if isinstance(con, MemoizedOracle)
        else con.execute(oracle).df()
    )

    assert list(spdf.columns) == list(opdf.columns), (
        f"[{name}] column mismatch: spark={list(spdf.columns)} "
        f"oracle={list(opdf.columns)}"
    )
    assert len(spdf) == len(opdf), (
        f"[{name}] row count mismatch: spark={len(spdf)} oracle={len(opdf)}"
    )
    # Dtype-kind gate: the driver stringifies values before hashing, so
    # Spark int64 1000 vs DuckDB HUGEINT->float64 1000.0 is a hash FAIL
    # even though numpy would compare them equal. Catch it here. (Empty
    # frames carry no values to hash, and their pandas dtypes are
    # arbitrary — skip.)
    if len(spdf) > 0:
        for c in spdf.columns:
            sk, ok = _kind(spdf[c].dtype), _kind(opdf[c].dtype)
            assert sk == ok, (
                f"[{name}] dtype-kind mismatch in column {c!r}: spark={sk} "
                f"({spdf[c].dtype}) oracle={ok} ({opdf[c].dtype}) — likely "
                f"an un-CAST integer sum() in the oracle (DuckDB HUGEINT)"
            )
    for c in spdf.columns:
        a, b = spdf[c].to_numpy(), opdf[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating):
            same = (a == b) | (np.isnan(a) & np.isnan(b))
            # Also require bit-identical zero signs (hash-relevant).
            sign_ok = np.signbit(a) == np.signbit(b)
            bad = ~(same & sign_ok)
        else:
            bad = ~(pd.Series(a).eq(pd.Series(b)).to_numpy())
        if bad.any():
            i = int(np.argmax(bad))
            raise AssertionError(
                f"[{name}] value mismatch in column {c!r} at sorted row {i}: "
                f"spark={a[i]!r} oracle={b[i]!r} "
                f"({int(bad.sum())} mismatched rows)"
            )
