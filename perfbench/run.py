#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the program and the harness once (sbt, the program's own
build plus perfbench/build.sbt), generate the workload's inputs from the
seed, run the harness JVM with the program's own JVM options, check the
outputs, and print one JSON object
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, taken from a run that
alternates plain and traced operations.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

LAUNCH = os.path.join(HERE, "target", "launch.txt")
JVM_TIMEOUT_S = 160  # leaves the whole run inside 180 s


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            if any(os.path.getmtime(os.path.join(d, f)) > t for f in files):
                return True
    return any(os.path.getmtime(p) > t for p in
               (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")))


def build():
    """Compile the program and the harness; returns (classpath, jvm options)."""
    if not os.path.exists(LAUNCH) or sources_newer_than(LAUNCH):
        log("building with sbt")
        r = subprocess.run(["sbt", "-batch", "writeLaunch"], cwd=HERE,
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0 or not os.path.exists(LAUNCH):
            sys.exit("perfbench: build failed")
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def shape(result, spec, trace):
    """The harness result with exactly the metrics BENCHMARK.json declares
    for this kind of run, each with its declared unit."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    metrics = {}
    for m in declared:
        if not trace and m["name"] not in got:
            sys.exit("perfbench: metric %s missing" % m["name"])
        # a layer the workload does not run reads 0 in its traced result
        value = got.get(m["name"], 0.0)
        if value != value:  # NaN: the layer ran no operation
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit("perfbench: unknown workload %s" % a.workload)
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: the program's sources are not beside the benchmark")
    classpath, jvm_opts = build()

    work = os.path.join(ROOT, ".bench_build", "perfbench", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    if a.workload == "query-mix":
        gen.generate_tables(inputs, a.seed)
    else:
        gen.generate(inputs, a.workload, a.seed)

    out = os.path.join(work, "result.json")
    cmd = (["java"] + jvm_opts + ["-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--inputs", inputs, "--work", work,
           "--out", out])
    try:
        r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: harness JVM timed out")
    if r.returncode != 0 or not os.path.exists(out):
        sys.exit("perfbench: harness JVM failed (exit %d)" % r.returncode)
    with open(out) as f:
        result = json.load(f)

    if a.workload == "query-mix":
        bad = oracle.compare(os.path.join(inputs, "tables"),
                             os.path.join(work, "query-outputs"))
        for line in bad:
            log("oracle mismatch: " + line)
        if bad:
            # the tables are read-only: every pass returned the same rows
            result["failed"] = result["attempted"]

    print(json.dumps(shape(result, spec, a.trace)))


if __name__ == "__main__":
    main()
