#!/usr/bin/env python3
"""Smoke test of the benchmark: a tiny-size run of each workload, untraced
and traced, asserting that the last line carries every metric named in
BENCHMARK.json with its unit and that the outputs checked correct.

    python3 perfbench/smoke_test.py [workload ...]
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for workload in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = run(workload, trace)
            assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
            assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1, line
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            assert got == want, f"{workload} trace={trace}: {sorted(set(got) ^ set(want))}"
            assert all(isinstance(v["value"], (int, float)) for v in line["metrics"].values())
            print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)


if __name__ == "__main__":
    main()
