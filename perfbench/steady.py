#!/usr/bin/env python3
"""Steadiness check: run one workload N times with consecutive seeds and
print each metric's median and quartile spread (IQR / median), next to
the bound BENCHMARK.json gives it.

  python3 perfbench/steady.py --workload scan --runs 10

Seeds run from 1; every run is a timed run (``--trace 0``). A spread above
a third of the bound is flagged: such a metric is not steady enough to
hold its bound between two sets of runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls: list[float] = []
    failed_runs = 0
    for seed in range(1, args.runs + 1):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
        walls.append(time.monotonic() - t0)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            failed_runs += 1
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
            continue
        result = json.loads(last)
        ok = result["correct"] and result["failed"] == 0
        failed_runs += not ok
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        summary = " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
        print(
            f"seed {seed}: wall={walls[-1]:.1f}s correct={result['correct']}"
            f" failed={result['failed']}/{result['attempted']} {summary}",
            flush=True,
        )

    print(
        f"\n{args.workload}: {args.runs} runs, {failed_runs} failed or incorrect;"
        f" wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s"
    )
    print(f"{'metric':28} {'median':>12} {'spread':>8} {'bound':>6}  flag")
    for name, xs in values.items():
        s = spread(xs) if len(xs) >= 2 else float("nan")
        flag = "" if abs(s) <= bounds[name] / 3 else "NOT STEADY"
        print(f"{name:28} {statistics.median(xs):12.4f} {s:8.3f} {bounds[name]:6.2f}  {flag}")
    return 1 if failed_runs else 0


if __name__ == "__main__":
    sys.exit(main())
