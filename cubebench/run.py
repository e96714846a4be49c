#!/usr/bin/env python3
"""Cube benchmark: run one workload of the program and print its metrics.

    python3 cubebench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source on first use (see
build.py), then runs the workload in a fresh JVM started directly with
`java`. Prints the host block and every metric by name with its unit, and
as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics, writes the run's spans to .bench_out/ and reports each
layer's self time and the tracing overhead. All data lives under
.bench_data/ in the checkout and is removed when the run ends.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 165


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run_jvm(classpath, args, data, out_json, spans):
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(data, d), exist_ok=True)
    # Class-data sharing: the first run of a build dumps the classes it
    # loaded when it exits, later runs map them. A cold Spark JVM otherwise
    # spends several seconds of every run loading classes (see README).
    jsa = build.class_archive(classpath)
    dumping = not os.path.exists(jsa)
    cds = f"-XX:ArchiveClassesAtExit={jsa}.tmp" if dumping else f"-XX:SharedArchiveFile={jsa}"
    cmd = [build.java()] + build.jvm_flags() + [cds]
    cmd += [f"-Djava.io.tmpdir={data}/tmp", "-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", out_json]
    if spans:
        cmd += ["--spans", spans]
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_CONF_DIR"):
        env.pop(k, None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(data, "spark-local")
    # the JVM's stdout goes to our stderr: our stdout ends with the result
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[bench] JVM exceeded {JVM_TIMEOUT_S} s and was killed", file=sys.stderr)
        return None
    if dumping and code == 0 and os.path.exists(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)
        for old in glob.glob(os.path.join(build.build_dir(), "cds-*.jsa")):
            if old != jsa:
                os.remove(old)
    return code


def main(argv):
    args = parse_args(argv)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[bench] build failed: {e}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    data = os.path.join(ROOT, ".bench_data", f"{tag}-{os.getpid()}")
    out_json = os.path.join(out_dir, f"{tag}.json")
    spans = os.path.join(out_dir, f"{tag}-spans.jsonl") if args.trace else None
    if os.path.exists(out_json):
        os.remove(out_json)
    t0 = time.time()
    try:
        code = run_jvm(classpath, args, data, out_json, spans)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    if code != 0 or not os.path.exists(out_json):
        print(f"[bench] run failed (exit {code})", file=sys.stderr)
        return 3
    with open(out_json) as f:
        res = json.load(f)
    for line in metrics.report(res, time.time() - t0):
        print(line)
    print(json.dumps(metrics.result_line(res)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
