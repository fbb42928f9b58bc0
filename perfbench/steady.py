#!/usr/bin/env python3
"""Steadiness check: run a workload repeatedly and report each metric's
spread against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload serve --runs 10 [--seed0 100]

Each run uses its own seed (seed0, seed0+1, ...). For every end-to-end
metric it prints the median, the quartiles (statistics.quantiles, n=4),
the interquartile distance as a share of the median, and the metric's
bound. A spread at or above its bound fails the check. Every run is
untraced and lasts run_seconds from BENCHMARK.json. Runs from the root
of a checkout; the run records stay under .bench_build/records/.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload, seed, seconds):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    return p.returncode, result, wall


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=names, required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    bad_runs = 0
    for i in range(a.runs):
        seed = a.seed0 + i
        rc, res, wall = one_run(a.workload, seed, spec["run_seconds"])
        ok = rc == 0 and res is not None and res["correct"]
        bad_runs += not ok
        shown = " ".join(f"{k}={v['value']:.4g}"
                         for k, v in (res or {}).get("metrics", {}).items())
        print(f"seed {seed}: rc={rc} wall={wall:.0f}s {shown}", flush=True)
        if ok:
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])

    failed = bad_runs > 0
    print(f"\n{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}")
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(k)
        flag = ""
        if bound is not None:
            if spread >= bound:
                flag, failed = "OVER", True
            elif spread >= bound / 3:
                flag = "over 1/3"
        print(f"{k:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{bound if bound is not None else '-':>6} {flag}")
    if bad_runs:
        print(f"\n{bad_runs} run(s) failed or were incorrect")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
