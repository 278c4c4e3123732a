"""Query registry: the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers a named query here,
optionally with a DuckDB-runnable ANSI-SQL oracle. ``__spark_entry__.py``
exposes this registry to the correctness driver; ``tests/test_oracle_parity``
replays the same comparison locally.

Column-name parity rule: the driver sorts result columns by name before
hashing, so every computed column is aliased identically in the Spark
builder and the oracle SQL.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from newsflow.artifacts import QueryFn, prepared


@dataclass(frozen=True)
class QuerySpec:
    name: str
    # The registered function behind `artifacts.prepared` (its
    # ``__wrapped__``): a call on a corpus after its first job-free
    # build runs a fresh frame over the plan that build kept.
    build: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import, imported in this order.
_QUERY_MODULES = (
    "newsflow.dedup.queries",
    "newsflow.corpus",
    "newsflow.graph",
    "newsflow.sim.queries",
    "newsflow.streaming.queries",
    "newsflow.curation",
    "newsflow.etl.queries",
    "newsflow.nlp.queries",
    "newsflow.functions.text_queries",
    "newsflow.multimodal.queries",
    "newsflow.ml.queries",
    "newsflow.functions.scalars_queries",
    "newsflow.ops.relational",
    "newsflow.ops.joins",
    "newsflow.ops.windows",
    "newsflow.ops.subqueries",
    "newsflow.ops.sampling",
    "newsflow.quality",
    "newsflow.selection",
    "newsflow.takedown",
    "newsflow.pipeline",
    "newsflow.packing",
    "newsflow.ml.quality_clf",
    "newsflow.streaming.exec_queries",
    "newsflow.retrieval",
    "newsflow.sim.health",
    "newsflow.sim.mmr",
    "newsflow.sim.nsw",
    "newsflow.sim.hybrid",
    "newsflow.sim.rerank",
    "newsflow.analytics",
    "newsflow.sketch",
)


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name,
            prepared(name, fn),
            oracle,
            doc or (fn.__doc__ or ""),
            tags,
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """All registered specs: oracled queries in registration order, then
    the no-oracle (rows-only) ones."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    ordered = {n: s for n, s in _REGISTRY.items() if s.oracle}
    ordered.update({n: s for n, s in _REGISTRY.items() if not s.oracle})
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.build for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle
    }
