"""Correctness gate: a result's row count plus an order-insensitive value
hash, compared with the registry's DuckDB oracle on the same inputs.

Values are canonicalised the way the engine's oracle parity rehearsal
compares them: columns sorted by name, integer widths unified, DATE
objects and datetimes brought to one form, floats compared bit-exactly
through ``repr``.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd
from newsflow.tables import TABLES


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if pd.isna(v):
        return "null"
    return str(v)


def fingerprint(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash of the rows' canonical values)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(rows), h.hexdigest()


class Oracle:
    """DuckDB connection with the generated tables registered as views;
    memoises each oracle's fingerprint."""

    def __init__(self, data_dir: str) -> None:
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 4")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        self._memo: dict[str, tuple[int, str]] = {}

    def fingerprint(self, name: str, sql: str) -> tuple[int, str]:
        if name not in self._memo:
            self._memo[name] = fingerprint(self._con.execute(sql).df())
        return self._memo[name]

    def close(self) -> None:
        self._con.close()
