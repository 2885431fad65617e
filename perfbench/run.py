#!/usr/bin/env python3
"""Benchmark entry point for the dedup workflows.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all ...   # every workload, one line each

Run from the repository root. Builds the program and the benchmark from
source on first use (see build.py), then starts one JVM that runs one
Spark session at local[<nproc>] and drives the named workload. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Per-sample details (host
load, sample counts, input digest) go to standard error.

Exit codes: 0 = all output checks passed; 1 = a check failed (the result
line is still printed); 2 = bad arguments, build failure or a crashed /
timed-out JVM (no result line).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# jsonl_dense_remove is not in BENCHMARK.json (see README.md), but runs here
WORKLOADS = ("jsonl_sparse_annotate", "images_pipeline", "jsonl_dense_remove")
# the JVM must leave room inside the 180 s per-run limit for this wrapper
# to start, check the build and report
JVM_TIMEOUT_S = 170


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_workload(workload: str, seed: int, seconds: int, trace: int,
                 classes: Path, jars: Path):
    """Runs one workload in its own JVM; returns the result object, or None
    when the JVM crashed or timed out."""
    cores = len(os.sched_getaffinity(0))
    work = build.ROOT / ".bench_build" / "perfbench" / "run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--work", str(work)]
    # Spark prefers these over spark.local.dir; keep its scratch in the work dir
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=build.ROOT, env=env, start_new_session=True,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] JVM did not finish within {JVM_TIMEOUT_S} s",
              file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode not in (0, 1) or not lines:
        print(f"[perfbench] JVM exited with {proc.returncode} and no result",
              file=sys.stderr)
        return None
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print(f"[perfbench] last output line is not a result: {lines[-1][:200]}",
              file=sys.stderr)
        return None
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help=f"one of {', '.join(WORKLOADS)}, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload != "all" and a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if a.seconds < 1:
        fail("--seconds must be >= 1")

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    if a.workload != "all":
        result = run_workload(a.workload, a.seed, a.seconds, a.trace, classes, jars)
        if result is None:
            sys.exit(2)
        print(json.dumps(result))
        sys.exit(0 if result["correct"] else 1)

    # every workload in turn, one result line each
    code = 0
    for w in WORKLOADS:
        result = run_workload(w, a.seed, a.seconds, a.trace, classes, jars)
        if result is None:
            code = 2
            continue
        print(json.dumps({"workload": w, **result}), flush=True)
        if not result["correct"]:
            code = max(code, 1)
    sys.exit(code)


if __name__ == "__main__":
    main()
