#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload extract_incremental --seed 1 --seconds 12 --trace 0

Builds the program with the benchmark (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py, cached per seed), runs one JVM
(perfbench.Main) at local[nproc], checks the outputs against DuckDB oracles
(perfbench/check.py), and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is
the run's environment record. Everything it writes stays under
perfbench/.work.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORK = BENCH / ".work"
# A run must end within 180 s of its start (a build excepted). The JVM gets
# what is left after the time already spent, the check's reserve and a
# margin for exit.
RUN_LIMIT_S = 180
EXIT_MARGIN_S = 5
CHECK_RESERVE_S = 15


def percentile(xs, q):
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(workload, input_dir, out_dir, seconds, trace, cores, result_path, log_path,
            timeout):
    # every scratch path of the JVM points into the work dir: temp files,
    # Spark's local dirs (the env var overrides spark.local.dir), no
    # /tmp/hsperfdata
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={WORK / 'tmp'}", "-Dspark.ui.enabled=false"] + build.ADD_OPENS +
           ["-cp", build.classpath(), "perfbench.Main",
            "--workload", workload, "--input", str(input_dir), "--out", str(out_dir),
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
            "--result", str(result_path)])
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=str(out_dir / "spark-local")))
        try:
            return proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def end_to_end(res):
    walls = res["batch_s"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "records_per_s": (res["records_per_batch"] * len(walls) / sum(walls), "1/s"),
        "batch_p50_s": (statistics.median(walls), "s"),
        "batch_p95_s": (percentile(walls, 0.95), "s"),
        "live_heap_mb": (res["live_heap_mb"], "MiB"),
    }


def per_layer(res, check_layers, units):
    """Median over the traced batches; a layer the workload never calls
    reads 0."""
    keys = {k for batch in res["layers"] for k in batch}
    layers = {k: statistics.median(b.get(k, 0.0) for b in res["layers"]) for k in keys}
    layers.update(res.get("once", {}))
    layers.update(check_layers)
    untraced = statistics.median(res["unit_s"])
    layers["trace.overhead"] = statistics.median(res["traced_unit_s"]) / untraced
    layers["spark.scheduler.parallel_speedup"] = (
        statistics.median(res["single_core_unit_s"]) / untraced)
    return {k: (layers.get(k, 0.0), u) for k, u in units.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(check.CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    args = ap.parse_args()

    started = time.time()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    load_before = os.getloadavg()
    building = time.time()
    build.ensure_built()
    started += time.time() - building  # a build does not count against the limit
    input_dir, meta = gen.ensure_inputs(WORK / "inputs", args.workload, args.size, args.seed)

    run_id = f"{args.workload}-{args.size}-{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = WORK / "runs" / run_id
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    result_path = results / f"{run_id}.jvm.json"
    log_path = results / f"{run_id}.log"
    cores = len(os.sched_getaffinity(0))
    t0 = time.time()
    timeout = RUN_LIMIT_S - EXIT_MARGIN_S - CHECK_RESERVE_S - (t0 - started)
    code = run_jvm(args.workload, input_dir, out_dir, args.seconds, args.trace, cores,
                   result_path, log_path, timeout)
    t1 = time.time()
    if code != 0 or not result_path.exists():
        sys.stderr.write(log_path.read_text()[-4000:])
        sys.exit(f"benchmark JVM failed with exit code {code}; log: {log_path}")
    res = json.loads(result_path.read_text())
    outcome, check_layers = check.CHECKS[args.workload](res, input_dir, WORK / "tmp")
    shutil.rmtree(out_dir, ignore_errors=True)

    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = per_layer(res, check_layers, units)
    else:
        metrics = end_to_end(res)
    env = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "seconds": args.seconds, "nproc": cores,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "jvm_wall_s": round(t1 - t0, 3), "jvm_timeout_s": round(timeout, 3),
        "check_s": round(time.time() - t1, 3), **res["env"],
        "inputs": meta, "batches": res["phase_batches"],
        "samples": len(res["batch_s" if "batch_s" in res else "layers"]),
        "mismatches": outcome["mismatches"],
    }
    full = {"env": env, "raw": {k: v for k, v in res.items() if k not in ("report",)},
            "metrics": metrics, "check": outcome}
    (results / f"{run_id}.json").write_text(json.dumps(full, indent=1, default=str))
    print(json.dumps({"env": env}, default=str))
    print(json.dumps({
        "correct": outcome["failed"] == 0 and not outcome["mismatches"],
        "attempted": max(1, outcome["attempted"]),
        "failed": outcome["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
