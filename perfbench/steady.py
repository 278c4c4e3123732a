"""Steadiness check: run one workload under several seeds and report,
for each metric, the median and the quartile spread (Q3 - Q1) / median
next to the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload curate_search --seeds 1 2 3 4 5

Run from the repository root. ``--trace 1`` reports the per-layer
metrics instead (no bounds apply to them) and the traced run's own
end-to-end figures, whose ratio to an untraced run's medians is the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

from stats import quartile_spread


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    run = [*bench["command"]]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*run, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            capture_output=True, text=True, check=True,
        )
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            print(f"seed {seed}: {res['failed']}/{res['attempted']} calls failed")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.trace:
            # The traced run's own end-to-end figures: set against an
            # untraced run's medians, they give the tracing overhead.
            e2e = next(
                ln for ln in reversed(proc.stderr.splitlines()) if ln.startswith("e2e ")
            )
            for k, v in json.loads(e2e[4:]).items():
                values.setdefault(f"traced {k}", []).append(v)
        print(f"seed {seed} ({time.perf_counter() - t0:.0f} s): " + json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        ), flush=True)
    print(f"{'metric':<34}{'median':>14}{'spread':>10}{'bound':>8}")
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = quartile_spread(vs) if len(vs) >= 2 and med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
        print(f"{k:<34}{med:>14.4f}{spread:>10.4f}{b if b is not None else '':>8}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
