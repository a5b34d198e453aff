#!/usr/bin/env python3
"""Streaming video benchmark: one run of one workload.

    python3 vbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (``build.py``), runs
``vbench.Main`` in one JVM on ``local[4]``, and prints as its last
stdout line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones (0 where the workload does not exercise
that layer); a traced run also prints its span summary and writes every
span to ``vbench/work/trace-<workload>.jsonl``.

Workloads (see README.md in this directory):
  backfill       closed-loop replay, 16 cameras, 16 KB frames, RocksDB state
  batch_queries  cold and warm passes over three SparkEntry queries

Exits non-zero, naming the workload, when the build, the run or any
output check fails. Everything it writes stays under ``vbench/work``.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORKLOADS = ("backfill", "batch_queries")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(workload, msg):
    print(f"vbench: {workload}: {msg}", file=sys.stderr)
    sys.exit(1)


def metric_specs(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", help=argparse.SUPPRESS)
    a = ap.parse_args()
    w = a.workload

    try:
        specs = metric_specs(a.trace)
    except (OSError, ValueError, KeyError) as e:
        fail(w, f"cannot read metric list from BENCHMARK.json: {e}")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(w, f"build failed: {e}")

    run_dir = os.path.join(build.WORK, "runs", f"{w}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    log_path = os.path.join(build.WORK, f"last-{w}.log")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(build.SPARK_JARS, '*')}", "vbench.Main",
            "--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir,
            "--digests", os.path.join(HERE, "expected_digests.json"),
            "--trace-out", os.path.join(build.WORK, f"trace-{w}.jsonl")]
    if a.write_digests:
        cmd += ["--write-digests", os.path.abspath(a.write_digests)]

    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(w, f"run exceeded {RUN_TIMEOUT_S} s (log: {os.path.relpath(log_path, ROOT)})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = stdout.splitlines()
    for line in lines[:-1]:
        print(line)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(w, f"run failed (exit {proc.returncode}; log: {os.path.relpath(log_path, ROOT)})")

    measured = result.get("metrics", {})
    metrics = {}
    for m in specs:
        v = measured.get(m["name"])
        if v is None:
            if not a.trace:
                fail(w, f"metric {m['name']} was not measured")
            v = 0.0  # layer not exercised by this workload
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    out = {"correct": bool(result.get("correct")), "attempted": int(result.get("attempted", 0)),
           "failed": int(result.get("failed", 0)), "metrics": metrics}
    print(json.dumps(out))
    sys.stdout.flush()
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        fail(w, "output check failed or operations failed (see [check] lines above)")


if __name__ == "__main__":
    main()
