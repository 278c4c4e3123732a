"""newsflow benchmark: one seeded workload, one client, ``local[4]``.

Run from the repository root:

    python3 perfbench/run.py --workload news_batch --seed 1 --seconds 15 --trace 0

It generates the workload's tables from the seed, measures set-up in
fresh processes, runs the batch phase once cold and then repeats the
warm phase (and request cycles) ``round(--seconds / 5)`` times, checks
every timed call against its DuckDB oracle, and prints one JSON object
as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same work with spans, the
Spark event log and a streaming listener, and reports per-layer metrics.
A human-readable report goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

CORES = 4
SHUFFLE_PARTITIONS = 8
# Fresh processes that measure set-up besides the benchmark's own one.
SETUP_PROBES = 1
WORK_DIR = ".perfbench_work"
# The driver heap, set through the engine's own knob and committed whole
# at start. Left to grow from the JVM's default up to the engine's 8 GB,
# the heap's size (and so peak RSS) follows the collector's pause times,
# which follow the host's speed: on a 4-core host peak_rss_mb then
# spread 0.22 over five seeds, against 0.02 with this fixed heap.
DRIVER_HEAP = "2g"
# Warm repetitions a call needs before its times are checked for a trend.
TREND_MIN_REPS = 3
# ``--seconds`` buys round(seconds / UNIT_S) warm units (batch pass plus
# request cycle), at least one: a count, not a clock, so every run
# averages over the same samples whatever the host's speed at the time.
# At the benchmark's 15 s that is the trend check's 3 repetitions.
UNIT_S = 5.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def spark_confs(work: str, event_log: str | None) -> dict[str, str]:
    """Everything that makes runs differ is pinned here."""
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -Dderby.system.home={tmp}"
        ),
    }
    if event_log:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = event_log
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    return confs


def pin_environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Every JVM, the launcher's included: temp files in the work
    # directory, no performance-data file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.pop("NEWSFLOW_AQE", None)
    os.environ["NEWSFLOW_DRIVER_MEM"] = DRIVER_HEAP
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_session(work: str, event_log: str | None = None):
    """Import the engine, build its session and run one trivial action."""
    from newsflow.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_confs=spark_confs(work, event_log),
    )
    spark.range(1).count()
    return spark


def setup_probe(work: str) -> None:
    """Child-process mode: time set-up in a fresh interpreter."""
    t0 = time.perf_counter()
    spark = start_session(work)
    elapsed = time.perf_counter() - t0
    print(json.dumps({"setup_s": elapsed}))


def probe_setups(work: str, n: int) -> list[float]:
    out = []
    for _ in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe", work],
            capture_output=True, text=True, timeout=120, check=True,
        )
        out.append(json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count (VmHWM) from its current RSS,
    so input generation does not count towards the peak."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def rss_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Runner:
    """Runs registry calls, timing each and keeping its result's
    fingerprint for the correctness check."""

    def __init__(self, spark, data_dir: str, tracer) -> None:
        from newsflow import registry

        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.specs = registry.all_specs()
        # (name, (rows, hash) or the error raised)
        self.results: list[tuple[str, object]] = []
        self.times: dict[str, list[float]] = {}

    def call(self, name: str):
        """Run one call; return (seconds, result frame or None on error).
        The fingerprint is taken after the clock stops and the frame is
        not kept, so results do not add to peak RSS."""
        from check import fingerprint
        from tracing import layer_of

        spec = self.specs[name]
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer_of(spec.build.__module__), name):
                pdf = spec.build(self.spark, self.data_dir).toPandas()
        except Exception as exc:  # a failed call is counted, not fatal
            log(f"call {name} failed: {type(exc).__name__}: {exc}")
            self.results.append((name, exc))
            return time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        self.results.append((name, fingerprint(pdf)))
        self.times.setdefault(name, []).append(dt)
        return dt, pdf

    def run(self, names) -> tuple[float, list[float]]:
        lat = [self.call(n)[0] for n in names]
        return sum(lat), lat


def run_workload(w, runner, seconds: float) -> dict:
    tracer = runner.tracer
    with tracer.span("bench", "cold"):
        cold, _ = runner.run(w.batch)
        # The request calls' first, cold cycle: kept out of the latency
        # samples, as the cold batch pass is kept out of the warm ones.
        runner.run(w.requests)
    warm: list[float] = []
    latencies: list[float] = []
    t_start = time.perf_counter()
    for _ in range(max(1, round(seconds / UNIT_S))):
        with tracer.span("bench", "warm"):
            wall, _ = runner.run(w.batch)
        warm.append(wall)
        # Request latency: the request cycle's calls where the workload
        # has one, else the batch pass as a whole. Not each batch call: a
        # percentile over calls of different sizes lands on the edge
        # between two of them (news_batch's median spread 0.23 over ten
        # seeds, against 0.07 for its passes).
        if w.requests:
            with tracer.span("bench", "requests"):
                _, lat = runner.run(w.requests)
            latencies.extend(lat)
        else:
            latencies.append(wall)
    window = time.perf_counter() - t_start
    return {"cold": cold, "warm": warm, "latencies": latencies, "window": window}


def warm_job_s(w, runner, passes: list[float]) -> float:
    """Sum over the batch calls of each call's median warm time. The
    host's speed changes every few seconds, so a per-call median rejects
    a slow spell that the median of whole-pass times would keep."""
    warm = [runner.times.get(name, [])[1:] for name in w.batch]
    if not all(warm):  # a call failed: fall back to whole passes
        return statistics.median(passes)
    return sum(statistics.median(ts) for ts in warm)


def check_results(runner, data_dir: str) -> tuple[int, int]:
    """(attempted, failed): every timed call against its oracle."""
    from check import Oracle

    oracle = Oracle(data_dir)
    failed = 0
    try:
        for name, got in runner.results:
            if isinstance(got, Exception):
                failed += 1
                continue
            want = oracle.fingerprint(name, runner.specs[name].oracle)
            if got != want:
                failed += 1
                log(f"mismatch {name}: rows {got[0]} vs oracle {want[0]}")
    finally:
        oracle.close()
    return len(runner.results), failed


def trend_flags(runner) -> list[str]:
    from stats import trend

    flags, unchecked = [], []
    for name, ts in runner.times.items():
        # The first time is the cold call; the trend is over warm ones.
        if len(ts) - 1 < TREND_MIN_REPS:
            unchecked.append(name)
            continue
        rel = trend(ts[1:])
        if rel is not None:
            flags.append(f"{name} {rel:+.1%}/rep over {[round(t, 2) for t in ts[1:]]}")
    if unchecked:
        flags.append(
            f"not checked, fewer than {TREND_MIN_REPS} warm repetitions: "
            + ", ".join(unchecked)
        )
    return flags


def run_traced_only(runner, names) -> float:
    """Run the traced-only calls; return recall@k (hits over attempted)
    summed over the recall evaluations among them."""
    hits = attempted = 0
    for name in names:
        _, res = runner.call(name)
        if res is not None and {"n_hits", "k"} <= set(res.columns):
            hits += int(res["n_hits"].sum())
            attempted += int(res["k"].sum())
    return hits / attempted if attempted else 0.0


def remove_stale(base: str) -> None:
    """Delete work directories left by runs that were killed: their
    names end in the pid of a process that no longer exists."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def disk_usage(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", metavar="WORK_DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "newsflow", "session.py")):
        log("run from the repository root: newsflow/ not found")
        return 2
    sys.path.insert(0, root)
    from procs import adopt_orphans, stop_all

    adopt_orphans()
    # A stop request ends the run through the clean-up below, not past it.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.setup_probe:
        try:
            pin_environment(args.setup_probe)
            setup_probe(args.setup_probe)
        finally:
            stop_all()
        return 0

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    w = WORKLOADS[args.workload]
    base = os.path.join(root, WORK_DIR)
    remove_stale(base)
    work = os.path.join(base, f"{w.name}-{args.seed}-{os.getpid()}")
    try:
        return measure(w, args, work)
    finally:
        # The JVMs write into the work directory until they have ended.
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


def measure(w, args, work: str) -> int:
    from gen import generate

    marks = [("start", time.perf_counter())]
    pin_environment(work)
    data_dir = os.path.join(work, "data")
    rows = generate(data_dir, args.seed, w.sizes)
    log(f"{w.name} seed={args.seed} tables={rows}")
    reset_peak_rss()
    marks.append(("generate", time.perf_counter()))

    setups = probe_setups(work, SETUP_PROBES)
    marks.append(("setup probes", time.perf_counter()))

    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    from tracing import NullTracer, Tracer

    tracer = Tracer() if args.trace else NullTracer()
    with tracer.span("session", "setup"):
        t0 = time.perf_counter()
        spark = start_session(work, event_log)
        setups.append(time.perf_counter() - t0)
    tracer.bind(spark)
    stream = None
    if args.trace:
        from tracing import StreamProgress, wrap_functions

        wrap_functions(tracer)
        stream = StreamProgress(spark)

    runner = Runner(spark, data_dir, tracer)
    marks.append(("session", time.perf_counter()))
    t_wall = time.time()
    res = run_workload(w, runner, args.seconds)
    recall = 0.0
    if args.trace:
        with tracer.span("bench", "traced_only"):
            recall = run_traced_only(runner, w.traced_only)
    wall_s = time.time() - t_wall
    marks.append(("workload", time.perf_counter()))
    if stream is not None:
        stream.settle()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    jvm_rss, py_rss = rss_mb(jvm_pid), rss_mb("self")
    peak_rss = jvm_rss + py_rss
    from procs import stop_spark

    stop_spark()
    marks.append(("stop", time.perf_counter()))

    attempted, failed = check_results(runner, data_dir)
    marks.append(("check", time.perf_counter()))
    log("phases: " + ", ".join(
        f"{name} {t - marks[i][1]:.1f} s" for i, (name, t) in enumerate(marks[1:])
    ))
    flags = trend_flags(runner)
    for f in flags:
        log(f"trend: {f}")

    from stats import percentile, tail

    lat_ms = [x * 1000.0 for x in res["latencies"]]
    tail_ms, tail_pct = tail(lat_ms)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_job_s": (res["cold"], "s"),
        "warm_job_s": (warm_job_s(w, runner, res["warm"]), "s"),
        "latency_p50_ms": (percentile(lat_ms, 50.0), "ms"),
        "latency_tail_ms": (tail_ms, "ms"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    log(
        f"setup samples {[round(s, 3) for s in setups]}; warm passes "
        f"{[round(x, 3) for x in res['warm']]} in {res['window']:.1f} s; "
        f"{len(lat_ms)} latency samples, tail = p{tail_pct:.0f}; "
        f"failed_ops_frac {failed}/{attempted}; disk {disk_usage(work) / 1e6:.1f} MB; "
        f"peak RSS JVM {jvm_rss:.0f} MB + Python {py_rss:.0f} MB"
    )
    for name, ts in runner.times.items():
        log(f"  call {name:<42} median {statistics.median(ts[1:] or ts):7.3f} s "
            f"of {[round(t, 3) for t in ts]}")
    for k, (v, u) in e2e.items():
        log(f"  {k:<18} {v:12.4f} {u}")
    log("e2e " + json.dumps({k: v for k, (v, _) in e2e.items()}))

    if args.trace:
        from tracing import UNITS, format_table, summarise

        metrics, table = summarise(tracer, event_log, wall_s, CORES)
        metrics.update(stream.metrics())
        metrics["sim.recall_at_k"] = recall
        log(format_table(table))
        covered = sum(r["wall_s"] for r in table if r["layer"] != "session")
        log(f"traced wall {wall_s:.3f} s; layer self times sum to {covered:.3f} s")
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
