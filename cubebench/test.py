#!/usr/bin/env python3
"""The cube benchmark's own tests.

    python3 cubebench/test.py

Checks that a run's result line has the shape BENCHMARK.json asks for,
then builds the harness and runs graftbench.SelfTest (seeded inputs
reproduce, percentile and repeat-share math, closed-form expectations
against a tiny generated cube).
"""
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import metrics  # noqa: E402


def test_result_line_shape():
    e2e = [m["name"] for m in metrics.SPEC["end_to_end"]]
    res = {"workload": "serve", "trace": False, "correct": True, "attempted": 12, "failed": 0,
           "e2e": {n: 1.5 for n in e2e}, "layers": {"spark.cal_ms": 40.0}}
    line = metrics.result_line(res)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 12
    assert list(line["metrics"]) == e2e
    res["trace"] = True
    line = metrics.result_line(res)
    assert list(line["metrics"]) == [m["name"] for m in metrics.SPEC["per_layer"]]
    assert line["metrics"]["spark.cal_ms"] == {"value": 40.0, "unit": "ms"}
    res["trace"] = False
    res["e2e"]["setup_s"] = None
    assert metrics.result_line(res)["correct"] is False


def run_selftest():
    classpath = build.build()
    data = os.path.join(ROOT, ".bench_data", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(data, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(data, "spark-local"))
    cmd = [build.java()] + build.jvm_flags()
    cmd += [f"-Djava.io.tmpdir={data}/tmp", "-cp", os.pathsep.join(classpath), "graftbench.SelfTest", "--data", data]
    try:
        return subprocess.run(cmd, cwd=ROOT, env=env, timeout=600).returncode
    finally:
        shutil.rmtree(data, ignore_errors=True)


def main():
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            try:
                fn()
                print(f"PASS {name}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {name}: {e!r}")
    code = run_selftest()
    return 1 if failed or code != 0 else 0


if __name__ == "__main__":
    sys.exit(main())
