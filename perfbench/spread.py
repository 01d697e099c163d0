#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs one workload on several
seeds and prints, per metric, the median and the interquartile range as a
share of the median (`statistics.quantiles(values, n=4)`), next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload extract_incremental --runs 10 [--first-seed 1]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    values = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=True).stdout
        walls.append(time.time() - t0)
        line = json.loads(out.strip().splitlines()[-1])
        if not line["correct"] or line["failed"]:
            print(f"seed {seed}: INCORRECT {line}", flush=True)
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in line["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:16s} median {statistics.median(vs):.5g}  iqr/median "
              f"{(q3 - q1) / statistics.median(vs):.3f}  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
