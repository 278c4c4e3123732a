"""Tracing from outside the engine: spans around calls into each layer,
Spark jobs attributed to spans, and streaming progress.

Spans are kept in memory and summarised once the session has stopped,
so the event log is complete. Jobs carry the innermost span's id as
their job description; jobs whose description Spark itself replaced
(streaming micro-batches) fall back to the innermost span open at
submission time.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

from stats import Span, driver_gaps, self_times

LAYERS = (
    "session", "tables", "etl", "nlp", "functions", "ops", "ml", "graph",
    "dedup", "curation", "pipeline", "selection", "packing", "sim",
    "retrieval", "sketch", "streaming", "takedown",
)
LAYER_FIELDS = {
    "wall_s": "s", "driver_s": "s", "task_s": "s", "shuffle_mb": "MB",
    "spill_mb": "MB", "jobs": "count",
}
# Unit of every per-layer metric the traced run reports.
UNITS = {
    **{f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()},
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.dropped_by_watermark": "count",
    "sim.recall_at_k": "fraction",
    "spark.busy_frac": "fraction", "spark.scheduler_delay_s": "s",
    "spark.gc_s": "s", "spark.input_mb": "MB", "spark.output_mb": "MB",
    "spark.failed_tasks": "count",
}
DESC_PREFIX = "perfbench-span:"
MB = 1024.0 * 1024.0


def layer_of(module: str) -> str:
    """``newsflow.sim.queries`` -> ``sim``; ``newsflow.pipeline`` -> ``pipeline``."""
    parts = module.split(".")
    return parts[1] if len(parts) > 1 and parts[0] == "newsflow" else module


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        yield

    def bind(self, spark) -> None:
        pass


class Tracer:
    def __init__(self) -> None:
        self.spans: dict[int, Span] = {}
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext
        self._describe()

    def _describe(self) -> None:
        if self._sc is not None:
            desc = f"{DESC_PREFIX}{self._stack[-1]}" if self._stack else None
            self._sc.setLocalProperty("spark.job.description", desc)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, time.time(), float("nan"), parent)
        self.spans[s.sid] = s
        if parent is not None:
            self.spans[parent].children.append(s.sid)
        self._stack.append(s.sid)
        self._describe()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe()

    def innermost_at(self, t: float) -> int | None:
        best = None
        for s in self.spans.values():
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.sid if best else None


# Driver-side engine functions that get a span of their own in the
# traced run, below the registry call that uses them. Only functions
# whose work happens inside the call belong here: a function that
# returns a lazy DataFrame would own its planning time only, and the
# jobs would be charged to whichever call runs them. Table loading reads
# parquet footers and infers schemas on the driver. It is not shipped to
# Python workers, so replacing it changes no task.
TRACED_FUNCTIONS = (
    ("newsflow.tables", "load_table"),
)


def wrap_functions(tracer: Tracer) -> None:
    """Replace each of ``TRACED_FUNCTIONS`` with a span-recording twin in
    every engine module that holds a reference to it."""
    import functools
    import importlib
    import sys

    for mod_name, attr in TRACED_FUNCTIONS:
        original = getattr(importlib.import_module(mod_name), attr)
        layer = layer_of(original.__module__)

        def traced(*args, _fn=original, _layer=layer, _name=attr, **kwargs):
            with tracer.span(_layer, _name):
                return _fn(*args, **kwargs)

        traced = functools.wraps(original)(traced)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("newsflow"):
                continue
            for name, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, name, traced)


class StreamProgress:
    """A ``StreamingQueryListener`` that keeps every progress event."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []
        lock = threading.Lock()
        self.events, self._lock = events, lock

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    events.append({
                        "at": time.time(),
                        "duration": dict(p.durationMs or {}),
                        "state_rows": sum(
                            o.numRowsTotal for o in p.stateOperators
                        ),
                        "dropped": sum(
                            o.numRowsDroppedByWatermark for o in p.stateOperators
                        ),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def settle(self, quiet_s: float = 1.0, limit_s: float = 5.0) -> None:
        """Wait until no progress event arrived for ``quiet_s``: the
        listener bus delivers them asynchronously."""
        deadline = time.time() + limit_s
        while time.time() < deadline:
            with self._lock:
                last = self.events[-1]["at"] if self.events else 0.0
            if time.time() - last >= quiet_s:
                break
            time.sleep(0.2)
        self._spark.streams.removeListener(self._listener)

    def metrics(self) -> dict[str, float]:
        with self._lock:
            ev = list(self.events)

        def tot(key: str) -> float:
            return float(sum(e["duration"].get(key, 0) for e in ev))

        return {
            "streaming.trigger_ms": tot("triggerExecution"),
            "streaming.add_batch_ms": tot("addBatch"),
            "streaming.planning_ms": tot("queryPlanning"),
            "streaming.wal_commit_ms": tot("walCommit"),
            "streaming.state_rows": float(max((e["state_rows"] for e in ev), default=0)),
            "streaming.dropped_by_watermark": float(sum(e["dropped"] for e in ev)),
        }


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """Parse the Spark event log: (jobs by id, per-task records)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                        "desc": props.get("spark.job.description"),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    deser = m.get("Executor Deserialize Time", 0)
                    ser = m.get("Result Serialization Time", 0)
                    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    tasks.append({
                        "job": stage_job.get(ev.get("Stage ID")),
                        "run_s": run / 1000.0,
                        "sched_s": max(
                            0, duration - run - deser - ser
                            - info.get("Getting Result Time", 0)
                        ) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0)
                        + m.get("Memory Bytes Spilled", 0),
                        "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output_b": (m.get("Output Metrics") or {}).get(
                            "Bytes Written", 0
                        ),
                        "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "failed": bool(info.get("Failed")),
                    })
    return jobs, tasks


def summarise(
    tracer: Tracer, log_dir: str, wall_s: float, cores: int
) -> tuple[dict[str, float], list[dict]]:
    """Per-layer and engine metrics plus the per-layer table rows."""
    jobs, tasks = read_event_log(log_dir)
    job_span: dict[int, int | None] = {}
    for jid, j in jobs.items():
        desc = j["desc"] or ""
        if desc.startswith(DESC_PREFIX):
            job_span[jid] = int(desc[len(DESC_PREFIX):])
        else:
            job_span[jid] = tracer.innermost_at(j["start"])
    span_jobs: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for jid, sid in job_span.items():
        if sid is not None:
            span_jobs[sid].append((jobs[jid]["start"], jobs[jid]["end"]))

    spans = tracer.spans
    selfs = self_times(spans)
    gaps = driver_gaps(spans, span_jobs)
    acc: dict[str, dict[str, float]] = {
        layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS
    }
    extra: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(LAYER_FIELDS, 0.0)
    )

    def row(layer: str) -> dict[str, float]:
        return acc[layer] if layer in acc else extra[layer]

    for s in spans.values():
        r = row(s.layer)
        r["wall_s"] += selfs[s.sid]
        r["driver_s"] += gaps[s.sid]
        r["jobs"] += len(span_jobs.get(s.sid, []))
    for t in tasks:
        sid = job_span.get(t["job"])
        if sid is None:
            continue
        r = row(spans[sid].layer)
        r["task_s"] += t["run_s"]
        r["shuffle_mb"] += t["shuffle_b"] / MB
        r["spill_mb"] += t["spill_b"] / MB

    metrics: dict[str, float] = {}
    for layer in LAYERS:
        for f in LAYER_FIELDS:
            metrics[f"{layer}.{f}"] = acc[layer][f]
    task_s = sum(t["run_s"] for t in tasks)
    metrics.update({
        "spark.busy_frac": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.scheduler_delay_s": sum(t["sched_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.input_mb": sum(t["input_b"] for t in tasks) / MB,
        "spark.output_mb": sum(t["output_b"] for t in tasks) / MB,
        "spark.failed_tasks": float(sum(t["failed"] for t in tasks)),
    })
    table = [
        {"layer": layer, **{f: round(v, 4) for f, v in r.items()}}
        for layer, r in [*acc.items(), *sorted(extra.items())]
        if any(r.values())
    ]
    return metrics, table


def format_table(rows: list[dict]) -> str:
    head = ("layer", *LAYER_FIELDS)
    lines = ["  ".join(f"{h:>12}" for h in head)]
    for r in rows:
        lines.append("  ".join(
            f"{r[h]:>12}" if h == "layer" else f"{r[h]:>12.3f}" for h in head
        ))
    return "\n".join(lines)
