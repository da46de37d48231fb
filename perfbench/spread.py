#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--trace 0]
                                [--workload NAME ...] [--save DIR]

From the root of a checkout. For every workload (all of BENCHMARK.json
by default) it runs `perfbench/run.py` once per seed, one run at a
time, and prints per metric the median, the quartiles, the distance
between the quartiles as a share of the median (`statistics.quantiles`,
n=4), and, for end-to-end metrics, the bound from BENCHMARK.json: first
the metrics of the result line, then those only in the report. A run
that exits non-zero, or reports `correct: false`, is listed. `--save`
keeps each run's full output.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--runs", type=int, default=10)
    parser.add_argument("--first-seed", type=int, default=1)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--workload", action="append",
                        choices=[w["name"] for w in spec["workloads"]])
    parser.add_argument("--save", help="directory for each run's output")
    args = parser.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    bad = 0
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.perf_counter() - t0)
            if args.save:
                os.makedirs(args.save, exist_ok=True)
                with open(os.path.join(args.save, f"{workload}_{seed}_{args.trace}.out"), "w") as f:
                    f.write(proc.stdout + "\n--- stderr\n" + proc.stderr[-20000:])
            lines = proc.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                result = None
            if proc.returncode != 0 or not result or not result["correct"]:
                bad += 1
                print(f"{workload} seed {seed}: rc={proc.returncode} "
                      f"correct={result and result['correct']}", flush=True)
                continue
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            for name, value in re.findall(r"^#   (\S+) +(\S+) ", proc.stdout, re.M):
                if name not in result["metrics"]:
                    values.setdefault(name, []).append(float(value))
            print(f"{workload} seed {seed}: {walls[-1]:.1f} s wall, " + ", ".join(
                f"{n}={m['value']:.4g}" for n, m in result["metrics"].items()
                if n in bounds), flush=True)
        print(f"\n{workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"  {'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'bound':>6s}")
        for name, vals in values.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            share = (q3 - q1) / med if med else 0.0
            bound = f"{bounds[name]:.2f}" if name in bounds else ""
            print(f"  {name:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {share:8.3f} {bound:>6s}")
        print(flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
