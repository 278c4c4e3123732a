"""Seeded input generator: writes the ten engine tables as parquet.

The tables follow the schemas and value domains the engine's registry
queries and their DuckDB oracles are written against (TPC-H-like star
schema, an ``events`` stream, a ``documents`` corpus and unit-norm
64-d ``embeddings``). Sizes are fixed per workload so that every seed
measures the same amount of work; the seed draws the content: which
rows, which words, which vectors, which documents are near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# Table sizes that no workload changes: a tenth of the engine's sf0.1
# test data for the star schema and events.
CUSTOMERS = 1500
SUPPLIERS = 100
PARTS = 2000
ORDERS = 15000
EVENTS = 10000
USERS = 150


@dataclass(frozen=True)
class Sizes:
    documents: int
    embeddings: int
    # Share of documents/vectors planted as near-duplicates of an
    # earlier row: the input property the dedup layer depends on.
    near_dup_share: float = 0.05


VOCAB = (
    "a the data table row column key value part line order customer query "
    "join hash sort merge group agg filter scan window stream batch spark "
    "vector fast slow big small"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "large", "old", "green", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DIM = 64
LABELS = 10


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tpch(rng, out: str) -> None:
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    nc = CUSTOMERS
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    }))
    ns = SUPPLIERS
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    }))
    np_ = PARTS
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": rng.choice(names, np_),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
    }))
    no = ORDERS
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    }))
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }))


def _events(rng, out: str) -> None:
    n = EVENTS
    # Sorted arrival times over January 2024 (µs precision).
    gaps = rng.exponential(30 * 86400e6 / n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, USERS, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }))


def _documents(rng, s: Sizes, out: str) -> None:
    n = s.documents
    texts: list[str] = []
    originals: list[int] = []  # long non-duplicate documents
    for i in range(n):
        if originals and rng.random() < s.near_dup_share:
            # Near-duplicate of a long original: a marker token appended.
            # Word-trigram Jaccard to the original is >= 0.98 and two
            # copies of one original are identical, so no pair sits near
            # the 0.8 near-dup threshold, where banded MinHash may miss it.
            original = texts[originals[int(rng.integers(0, len(originals)))]]
            texts.append(original + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
            if k >= 60:
                originals.append(i)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))


def _embeddings(rng, s: Sizes, out: str) -> None:
    n = s.embeddings
    centroids = rng.normal(size=(LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, LABELS, n)
    vecs = 0.14 * centroids[labels] + rng.normal(scale=DIM**-0.5, size=(n, DIM))
    for i in range(8, n):
        # Vectors 0..7 are the registry's query batch; near-dup vectors
        # are planted among the rest.
        if rng.random() < s.near_dup_share:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.02 * DIM**-0.5, size=DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write all tables for ``seed`` into ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _tpch(rng, out_dir)
    _events(rng, out_dir)
    _documents(rng, sizes, out_dir)
    _embeddings(rng, sizes, out_dir)
    return {
        name[: -len(".parquet")]: pq.ParquetFile(os.path.join(out_dir, name))
        .metadata.num_rows
        for name in sorted(os.listdir(out_dir))
    }
