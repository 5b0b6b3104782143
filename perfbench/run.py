#!/usr/bin/env python3
"""graft pipeline benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. One run:

1. builds graft and the harness (perfbench/build.py; reused while the
   sources are unchanged);
2. writes the seeded input under .bench_work/run-<pid>/input;
3. starts one JVM (fixed flags, `local[4]`, a fresh java.io.tmpdir and so
   a fresh substrate dir) that sets up, runs the cold pass, an untimed
   verify pass and warm passes for S seconds (graftbench.Harness);
4. checks every key's verify-pass output against its oracle SQL in DuckDB;
5. prints every metric by name and unit, and as its last line one JSON
   object with `correct`, `attempted`, `failed` and `metrics`: the
   end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.

Each run's full record (host stamp, per-key oracle hashes, every
per-layer metric including the per-module ones) goes to
.bench_work/records/, and a traced run's spans to .bench_work/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build
import inputs
import oracle
from workloads import WORKLOADS

CORES = 4
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# build.sbt's javaOptions with the heap pinned (-Xms = -Xmx), so peak RSS
# follows the program's allocation rather than the collector's heap
# growth decisions, which differ run to run
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xms2g",
    "-Xmx2g",
    "-XX:ReservedCodeCacheSize=512m",
    # no hsperfdata file in /tmp: a run writes only inside its checkout
    "-XX:-UsePerfData",
]

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "warm_cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.cold_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.blocked_frac": "ratio",
    "spark.core_util": "ratio",
    "spark.driver_gap_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "catalyst.plan_s": "s",
    "catalyst.scan_rows": "rows",
    "catalyst.join_rows": "rows",
    "catalyst.join_rows_per_result": "ratio",
    "codegen.compiles.cold": "count",
    "codegen.compiles.warm": "count",
    "codegen.compile_s.cold": "s",
    "codegen.compile_s.warm": "s",
    "caches.model_fits.cold": "count",
    "caches.model_fits.warm": "count",
    "caches.clear_s": "s",
    "substrate.builds.warm": "count",
    "substrate.disk_mb": "MB",
    "streaming.batches": "count",
    "streaming.state_rows": "rows",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "jvm.code_cache_mb": "MB",
    "io.read_mb": "MB",
    "io.write_mb": "MB",
    "io.write_mb.cold": "MB",
    "trace.overhead_s": "s",
}
# Reported in the record and on stdout but kept out of the JSON line:
# each is structurally zero on at least one workload (no substrate or
# streaming in etl_views, no remote fetch in local mode, an unthrottled
# host), so it carries no signal run over run there.
RECORD_ONLY = {
    "catalyst.rows_out": "rows",
    "substrate.build_s.cold": "s",
    "substrate.reads.warm": "count",
    "streaming.batch_s": "s",
    "streaming.commit_s": "s",
    "spark.fetch_wait_s": "s",
    "spark.task_gc_s": "s",
    "host.steal_s": "s",
    "host.throttled_s": "s",
    "trace.traced_warm_pass_s": "s",
    "trace.untraced_warm_pass_s": "s",
}


def host_counters():
    """Host-wide steal seconds and this cgroup's throttled seconds."""
    steal = throttled = 0.0
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/sys/fs/cgroup/cpu.stat") as f:
            for line in f:
                k, v = line.split()
                if k == "throttled_usec":
                    throttled = int(v) / 1e6
    except (OSError, ValueError):
        pass
    return steal, throttled


def git_commit(root):
    """HEAD of the checkout, or None when it is not a git work tree."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def run_jvm(cp, work, name, harness_args):
    """Run one harness JVM in its own temp dir; return its result.json."""
    tmp = os.path.join(work, name, "tmp")
    out = os.path.join(work, name, "out")
    os.makedirs(tmp)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-cp", cp, "graftbench.Harness",
           "--out", out, "--cores", str(CORES), *harness_args,
           "--spawn-ms", str(int(time.time() * 1000))]
    with open(os.path.join(work, name, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {name} JVM timed out after {JVM_TIMEOUT_S} s")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(os.path.join(work, name, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: {name} JVM exited with {p.returncode}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work dir (input, outputs, JVM logs)")
    args = ap.parse_args()
    # a SIGTERM unwinds like an error, so the JVM is killed and the work
    # dir removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("perfbench: run from the root of a graft checkout "
                 "(src/main/scala/graft/SparkEntry.scala not found)")
    cp = build.build(root)

    keys = WORKLOADS[args.workload]
    bench_dir = os.path.join(root, ".bench_work")
    work = os.path.join(bench_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        loadavg = os.getloadavg()[0]
        steal0, throttled0 = host_counters()
        input_dir = os.path.join(work, "input")
        t0 = time.time()
        fingerprint = inputs.make(args.seed, input_dir)
        t1 = time.time()
        res, out = run_jvm(cp, work, "main", [
            "--keys", ",".join(f"{k}:{m}" for k, m in keys), "--input", input_dir,
            "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--trace", str(args.trace)])
        t2 = time.time()
        checks = oracle.check(input_dir, out, [k for k, _ in keys])
        t3 = time.time()
        steal1, throttled1 = host_counters()

        threw = len(res["key_failures"])
        mismatched = sum(not c["ok"] for c in checks.values())
        attempted = res["key_runs"] + len(checks)
        failed = threw + mismatched
        e2e = {"setup_s": res["setup_s"], "cold_pass_s": res["cold_pass_s"],
               "warm_pass_s": res["warm_pass_s"], "warm_cpu_s": res["warm_cpu_s"],
               "peak_rss_mb": res["peak_rss_mb"]}
        layers = res.get("layers", {})
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "cores": CORES,
            "loadavg_start": loadavg, "host_steal_s": steal1 - steal0,
            "host_throttled_s": throttled1 - throttled0,
            "input_fingerprint": fingerprint, "jvm_flags": res["jvm_flags"],
            "commit": git_commit(root), "source_stamp": build.stamp(root),
            "setup_phases": res["setup_phases"], "verify_s": res["verify_s"],
            "substrate_built_s": res["substrate_built_s"],
            "wall_s": {"input": t1 - t0, "jvm": t2 - t1, "oracle": t3 - t2},
            "warm_passes": res["warm_passes"], "failed_frac": failed / attempted,
            "end_to_end": e2e, "layers": layers, "spans_self_s": res.get("spans_self_s"),
            "passes": res["passes"], "key_failures": res["key_failures"],
            "verify_errors": res["verify_errors"], "oracle": checks,
        }
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        os.makedirs(os.path.join(bench_dir, "records"), exist_ok=True)
        with open(os.path.join(bench_dir, "records", f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1)
        if args.trace:
            os.makedirs(os.path.join(bench_dir, "traces"), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(bench_dir, "traces", f"{tag}.spans.json"))
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)

    stamp = {k: record[k] for k in ("workload", "seed", "nproc", "loadavg_start",
                                     "host_steal_s", "host_throttled_s",
                                     "input_fingerprint", "commit", "source_stamp")}
    print("perfbench stamp " + json.dumps(stamp))
    print("perfbench jvm_flags " + " ".join(res["jvm_flags"]))
    for key, c in checks.items():
        print(f"perfbench oracle {key:26s} {'PASS' if c['ok'] else 'FAIL'} "
              f"{c.get('hash', '')} {c.get('reason') or ''}".rstrip())
    for name, unit in END_TO_END.items():
        print(f"perfbench end_to_end {name} {e2e[name]:.6g} {unit}")
    print(f"perfbench end_to_end failed_frac {failed / attempted:.6g} ratio")
    if args.trace:
        for name, unit in {**PER_LAYER, **RECORD_ONLY}.items():
            print(f"perfbench per_layer {name} {layers[name]:.6g} {unit}")
        for name in sorted(n for n in layers if n.count(".") == 2 and n.startswith("operators.")):
            print(f"perfbench per_layer {name} {layers[name]:.6g} s")
        print(f"perfbench spans_self_s {json.dumps(res['spans_self_s'])}")
    chosen = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in chosen.items()},
    }))


if __name__ == "__main__":
    main()
