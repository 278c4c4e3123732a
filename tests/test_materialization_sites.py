"""Every ``.cache()``, ``.persist()`` and ``localCheckpoint()`` call in
``newsflow/`` is counted here, per file, and the counts may only fall.

A registry query returns a lazy frame whose action its caller runs, so a
query cannot release what it persisted (a query-scoped cache leaks and
serves a rewritten table's old rows) and an eager checkpoint cuts the
lineage a lost block recomputes from. `newsflow/artifacts.py` states the
three legal forms. A new call site fails this test; removing one fails it
too, until ALLOWED is lowered to match, so the list only shrinks. No
Spark session is needed: the calls are found in the parsed source."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent / "newsflow"
METHODS = ("cache", "persist", "localCheckpoint")

ALLOWED = {
    ("artifacts.py", "persist"): 1,
    ("dedup/cluster.py", "cache"): 1,
    ("dedup/cluster.py", "localCheckpoint"): 2,
    ("dedup/minhash.py", "localCheckpoint"): 5,
    ("ml/bpe.py", "cache"): 1,
    ("ml/lr_native.py", "localCheckpoint"): 1,
    ("ml/pipeline.py", "cache"): 2,
    ("ml/quality_clf.py", "localCheckpoint"): 3,
    ("ml/theme_native.py", "localCheckpoint"): 1,
    ("ml/themes.py", "cache"): 1,
    ("nlp/pipeline.py", "cache"): 1,
    ("ops/merge.py", "localCheckpoint"): 2,
    ("ops/sampling.py", "localCheckpoint"): 1,
    ("ops/scale.py", "localCheckpoint"): 1,
    ("packing.py", "localCheckpoint"): 1,
    ("sim/ivf.py", "persist"): 2,
    ("sim/nsw.py", "localCheckpoint"): 22,
    ("sim/opq.py", "localCheckpoint"): 2,
    ("sim/pq.py", "cache"): 1,
    ("sim/queries.py", "localCheckpoint"): 2,
    ("sim/rerank.py", "localCheckpoint"): 1,
    ("sketch.py", "localCheckpoint"): 4,
    ("streaming/exec_queries.py", "localCheckpoint"): 5,
    ("streaming/ingest.py", "cache"): 1,
    ("streaming/ingest.py", "localCheckpoint"): 10,
    ("takedown.py", "localCheckpoint"): 17,
}


def _sites() -> Counter:
    found: Counter = Counter()
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in METHODS
            ):
                found[(rel, node.func.attr)] += 1
    return found


def test_no_new_materialization_site():
    found = _sites()
    over = {
        k: f"{n} > {ALLOWED.get(k, 0)}"
        for k, n in found.items()
        if n > ALLOWED.get(k, 0)
    }
    assert not over, (
        f"new materialization sites (see the rule in newsflow/artifacts.py): "
        f"{over}"
    )


def test_allowlist_only_shrinks():
    found = _sites()
    under = {k: f"{found[k]} < {n}" for k, n in ALLOWED.items() if found[k] < n}
    assert not under, f"sites were removed: lower ALLOWED to match: {under}"
