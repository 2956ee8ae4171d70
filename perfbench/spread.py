#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics over several seeds.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload tpch_analytics --seeds 1-10 --seconds 18 \
        --out perfbench/spread/tpch_analytics.json

Runs ``run.py`` once per seed, one after the other, and records for each
metric of the contract line the ten-or-so values, their quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the first and third quartile as a share of the median. The
bounds in BENCHMARK.json are set from these spreads.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": report["host"]["wall_s"], "load1_start": report["host"]["load1_start"],
                     "correct": result["correct"], "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
        print(json.dumps(runs[-1]), flush=True)

    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name] for r in runs]
        q1, _, q3 = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
    out = {"workload": args.workload, "seconds": args.seconds, "nproc": len(os.sched_getaffinity(0)),
           "runs": runs, "summary": summary}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    for name, s in summary.items():
        print(f"{name:28s} median {s['median']:.4g}  spread {s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
