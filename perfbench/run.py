#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload curate|query_mix|table_cdc \
        --seed N --seconds S --trace 0|1

Builds the program from source (once per checkout), generates the
workload's inputs from the seed, runs the workload in one JVM with a
single closed-loop client for S seconds, checks the outputs, and prints
the run context, every metric by name and unit, and as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}.
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

import checks
import gen
import trace_report as trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("curate", "query_mix", "table_cdc")
DEADLINE_S = 170  # a run must end within 180 s (900 s when it builds)
BUILD_DEADLINE_S = 700
GEN_REPEATS = 3

# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


SBT_TASKS = ["compile", "Compile/copyResources"]


def source_digest():
    """Digest of everything the build compiles, and of how."""
    h = hashlib.sha256(" ".join(SBT_TASKS).encode())
    roots = [SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark with sbt, unless the classes
    of exactly these sources are already there."""
    stamp = os.path.join(TARGET, "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    with open(os.path.join(TARGET, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            *SBT_TASKS], cwd=HERE, env=env, stdout=log,
                           stderr=subprocess.STDOUT, timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        fail(f"build failed, see {TARGET}/build.log")
    with open(stamp, "w") as f:
        f.write(digest)


def run_jvm(args, inputs, out, cores, budget_s):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"] + ADD_OPENS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={WORK}/tmp",
        "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", inputs, "--work", f"{WORK}/jvm", "--out", out,
        "--cores", str(cores)]
    os.makedirs(f"{WORK}/tmp", exist_ok=True)
    launched = time.time()
    with open(f"{WORK}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=WORK)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded {budget_s:.0f} s, see {WORK}/jvm.log")
    if code != 0 or not os.path.exists(f"{out}/result.json"):
        tail = open(f"{WORK}/jvm.log").read()[-3000:]
        fail(f"JVM exited with {code}:\n{tail}")
    with open(f"{out}/result.json") as f:
        res = json.load(f)
    res["jvm_ready_s"] = res["session_ready_ms"] / 1000.0 - launched
    return res


def e2e_metrics(res, setup_s):
    """The end-to-end metrics; what an operation is depends on the
    workload (see README.md)."""
    w = res["workload"]
    wall = (res["timed_end"] - res["timed_start"]) / 1e9
    if w == "table_cdc":
        kinds = [res["samples"].get(f"sources.{v}", [])
                 for v in trace.COMMIT_VERBS]
        rate = res["extra"]["user_rows"] / wall
    else:
        by = {}
        for r in trace.timed_roots(res, trace.ROOT_OPS[w]):
            by.setdefault(trace.op_key(r), []).append(
                (r["end"] - r["start"]) / 1e9)
        kinds = list(by.values())
        rate = (res["extra"]["docs"] / statistics.median(kinds[0])
                if w == "curate" else sum(map(len, kinds)) / wall)
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (res["vmhwm_kb"] / 1024.0, "MB"),
        "throughput_per_s": (rate, "1/s"),
        "latency_gmean_s": (trace.geomean_of_medians(kinds), "s"),
    }, sum(map(len, kinds))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    if not os.path.isdir(SRC):
        fail(f"program sources not found at {SRC}: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    build()
    shutil.rmtree(WORK, ignore_errors=True)
    inputs, out = f"{WORK}/inputs", f"{WORK}/out"
    os.makedirs(out)
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.time()
        shutil.rmtree(inputs, ignore_errors=True)
        gen.generate(args.workload, args.seed, inputs)
        gen_s.append(time.time() - t0)
    nproc = os.cpu_count() or 1
    # One core is left to the driver thread, the JIT and the collector.
    cores = max(1, min(4, nproc - 1))
    budget = DEADLINE_S - (time.time() - started)
    res = run_jvm(args, inputs, out, cores, budget)
    setup_s = statistics.median(gen_s) + res["jvm_ready_s"] + \
        res["setup_in_jvm_s"]
    metrics, n_samples = e2e_metrics(res, setup_s)
    failed_ops = len(res["errors"])
    check_failures = checks.run(args.workload, inputs, out, res)
    failed = failed_ops + len(check_failures)
    attempted = max(1, res["attempted"])
    report = {
        "context": {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
            "master": res["master"], "loadavg_start": res["loadavg_start"],
            "loadavg_end": res["loadavg_end"],
            "canary_before_s": res["canary_before_s"],
            "canary_after_s": res["canary_after_s"],
            "samples": n_samples, "gen_s": gen_s,
            "jvm_ready_s": res["jvm_ready_s"],
            "setup_in_jvm_s": res["setup_in_jvm_s"]},
        "errors": res["errors"], "check_failures": check_failures,
        "error_rate": failed / attempted,
        "workload_metrics": trace.workload_metrics(res),
        "operations": [(trace.op_key(r), (r["end"] - r["start"]) / 1e9)
                       for r in trace.timed_roots(res, trace.ROOT_OPS[args.workload])],
        "end_to_end": metrics}
    if args.trace:
        layer = trace.per_layer(res, trace.load(f"{out}/trace.jsonl"))
        layer["error_rate"] = (failed / attempted, "ratio")
        report["per_layer"] = layer
        shown = layer
    else:
        shown = metrics
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for k, v in report["context"].items():
        print(f"context {k} = {v}")
    for msg in res["errors"][:5] + check_failures:
        print(f"FAILED {msg}")
    for k, (v, unit) in {**report["workload_metrics"], **metrics}.items():
        print(f"metric {k} = {v:.6g} {unit}")
    if args.trace:
        for k, (v, unit) in layer.items():
            print(f"layer {k} = {v:.6g} {unit}")
    shutil.copy(f"{WORK}/jvm.log", os.path.join(RESULTS, name[:-5] + ".jvm.log"))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))


if __name__ == "__main__":
    main()
