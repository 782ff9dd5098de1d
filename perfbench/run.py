#!/usr/bin/env python3
"""Ledger benchmark: monthly uploads and a history backfill through the
engine's ledger pipeline (Ingest -> Warehouse -> Catalog -> BiQueries).

    python3 perfbench/run.py --workload ledger_monthly --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source (sbt); later runs reuse the build while the
sources are unchanged. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it records the measurement conditions. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import ledgergen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
RUNS_DIR = os.path.join(HERE, ".runs")
OUT_DIR = os.path.join(HERE, "out")

# the engine sources and build files the benchmark compiles
ENGINE_INPUTS = ["build.sbt", "project/build.properties", "src/main"]
BENCH_INPUTS = ["perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]

# a fixed heap (initial = maximum) so the resident peak does not depend
# on when the collector decided to grow the heap
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 170

WORKLOADS = {
    # the reference's own traffic: small monthly uploads into one
    # long-lived catalog, some re-uploaded verbatim, each followed by one
    # dashboard refresh
    "ledger_monthly": dict(catalog="run", rows_per_month=500),
    # a history migration: one big CSV into an empty catalog, its
    # identical rerun, then a burst of BI queries over the single-commit
    # fact
    "ledger_backfill": dict(catalog="pass", rows=40_000, months=36, share_months=20),
}
# passes generated; a run makes as many as fit in --seconds, at least one
MAX_PASSES = 8
# live commits at which the catalog folds a table back to one commit:
# the warm-up leaves one fact commit and each monthly pass adds three, so
# the last new month of every pass folds and the other two do not
COMPACT_EVERY = 4

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    for rel in ENGINE_INPUTS + BENCH_INPUTS:
        p = os.path.join(ROOT, rel)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; returns the runtime classpath."""
    missing = [r for r in ENGINE_INPUTS + BENCH_INPUTS if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        raise SystemExit(f"engine sources not found: {', '.join(missing)}")
    fp = fingerprint()
    stamp = os.path.join(BUILD_DIR, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["fingerprint"] == fp and all(os.path.exists(c) for c in s["classpath"]):
            return s["classpath"]
    log("building engine and benchmark (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.monotonic()
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    lines = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and os.pathsep in ln]
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return classpath


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, inputs):
    """Writes the workload's CSVs; returns its plan (see ledgergen)."""
    os.makedirs(inputs)
    w = WORKLOADS[workload]
    if workload == "ledger_monthly":
        files, plan = ledgergen.monthly_plan(seed, MAX_PASSES, w["rows_per_month"])
    else:
        files, plan = ledgergen.backfill_plan(seed, w["rows"], w["months"], w["share_months"],
                                              MAX_PASSES)
    for name, data in files.items():
        with open(os.path.join(inputs, name), "wb") as f:
            f.write(data)
    return plan


def write_plan(path, kv, plan):
    with open(path, "w", encoding="utf-8") as f:
        for k, v in kv.items():
            f.write(f"{k} {v}\n")
        for p, (entries, _) in sorted(plan.items()):
            for e in entries:
                f.write(f"pass {p} " + " ".join(e["op"]) + "\n")


def jvm(classpath, plan, log_path, timeout):
    """Runs one benchmark JVM to completion."""
    work = os.path.dirname(plan)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.callstack.depth=200"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main", plan]
    with open(log_path, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                           timeout=max(10, timeout))
    if r.returncode != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise RuntimeError(f"benchmark JVM exited with {r.returncode}")


def read_records(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    load_start = load1()
    classpath = build()
    started = time.monotonic()
    os.makedirs(OUT_DIR, exist_ok=True)
    spans_path = os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl")
    work = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        plan = make_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
        settings = {
            "cores": cores(), "seconds": args.seconds, "trace": args.trace,
            "catalog": WORKLOADS[args.workload]["catalog"], "compact_every": COMPACT_EVERY,
            "inputs": os.path.join(work, "inputs"), "work": work,
            "out": os.path.join(work, "run.jsonl"), "spans": spans_path,
        }
        plan_path = os.path.join(work, "run.plan")
        write_plan(plan_path, settings, plan)
        jvm(classpath, plan_path, os.path.join(work, "jvm.log"),
            RUN_TIMEOUT_S - (time.monotonic() - started))
        records = read_records(settings["out"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(work):
        raise SystemExit(f"temp root {work} was not removed")

    failures, attempted = checks.check(records, plan)
    for f in failures:
        log("CHECK FAILED: " + f)
    failed = len(failures)
    result_metrics, conditions = metrics.derive(args.workload, records, cores(),
                                                trace=args.trace, spans_path=spans_path)
    conditions.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores(), "load1_start": load_start,
        "load1_end": load1(), "failed_ops_frac": failed / attempted,
        "run_wall_s": round(time.monotonic() - started, 3),
    })
    # the traced run's end-to-end cost against an untraced run of the same
    # workload and seed, when one ran in this checkout
    e2e_path = os.path.join(OUT_DIR, f"e2e-{args.workload}-{args.seed}.json")
    if not args.trace:
        with open(e2e_path, "w") as f:
            json.dump(conditions["pass_total_s_samples"], f)
    elif os.path.exists(e2e_path):
        with open(e2e_path) as f:
            untraced = statistics.median(json.load(f))
        conditions["trace_overhead_vs_untraced"] = (
            statistics.median(conditions["pass_total_s_samples"]) / untraced - 1)
    if args.trace:
        table = metrics.layer_table(result_metrics)
        with open(os.path.join(OUT_DIR, f"layers-{args.workload}-{args.seed}.md"), "w") as f:
            f.write(table)
        sys.stderr.write(table)
    print(json.dumps({"conditions": conditions}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": result_metrics,
    }, sort_keys=True))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
