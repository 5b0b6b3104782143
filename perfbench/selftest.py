#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the root of a graft checkout:

    python3 perfbench/selftest.py

1. BENCHMARK.json names exactly the workloads and metrics run.py produces.
2. Every workload runs once, traced and with the fewest passes, and every
   end-to-end and per-layer metric prints by name with its unit; the
   oracle passes every key.
3. The oracle check fails on a deliberately corrupted output.
4. In a directory that holds only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.

Exits non-zero on the first failed check.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def bench_json(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check([w["name"] for w in spec["workloads"]] == list(WORKLOADS),
          "BENCHMARK.json workloads match workloads.py")
    check({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END,
          "BENCHMARK.json end_to_end metrics match run.py")
    check({m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER,
          "BENCHMARK.json per_layer metrics match run.py")


def run_once(root, workload):
    """One traced run with the work dir kept; return (stdout lines, work dir)."""
    p = subprocess.Popen([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", "0", "--seconds", "0", "--trace", "1", "--keep"],
                         cwd=root, stdout=subprocess.PIPE, text=True)
    out, _ = p.communicate()
    check(p.returncode == 0, f"{workload}: run exits 0")
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    check(set(result) == {"correct", "attempted", "failed", "metrics"},
          f"{workload}: last line has exactly correct/attempted/failed/metrics")
    check(result["correct"] and result["failed"] == 0, f"{workload}: every key passes the oracle")
    for kind, metrics in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        for name, unit in metrics.items():
            hit = [l for l in lines if l.startswith(f"perfbench {kind} {name} ")]
            check(len(hit) == 1 and hit[0].endswith(f" {unit}"),
                  f"{workload}: {kind} {name} prints with unit {unit}")
    return lines, os.path.join(root, ".bench_work", f"run-{p.pid}")


def corrupted_output_fails(work, key):
    out = os.path.join(work, "main", "out")
    (part,) = glob.glob(os.path.join(out, "verify", key, "*.parquet"))
    df = pd.read_parquet(part)
    check(oracle.check(os.path.join(work, "input"), out, [key])[key]["ok"],
          f"{key}: oracle passes the output as written")
    col = next(c for c in df.columns if pd.api.types.is_numeric_dtype(df[c]))
    df.loc[df.index[0], col] += 1
    df.to_parquet(part)
    check(not oracle.check(os.path.join(work, "input"), out, [key])[key]["ok"],
          f"{key}: oracle fails the output with one value of `{col}` changed")


def bare_dir_fails(root):
    bare = os.path.join(root, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        cmd = json.load(f)["command"]
    p = subprocess.run(cmd + ["--workload", next(iter(WORKLOADS)), "--seed", "0",
                              "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare)
    check(p.returncode != 0 and not p.stdout.strip(),
          "bare directory: exits non-zero and prints no result")


def main():
    root = os.getcwd()
    bench_json(root)
    for workload in WORKLOADS:
        _, work = run_once(root, workload)
        try:
            if workload == next(iter(WORKLOADS)):
                corrupted_output_fails(work, WORKLOADS[workload][0][0])
        finally:
            shutil.rmtree(work, ignore_errors=True)
    bare_dir_fails(root)
    print("selftest passed")


if __name__ == "__main__":
    main()
