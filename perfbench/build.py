#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository root)
together with the benchmark's own sources (`perfbench/src`) into one class
directory under `.bench_build/perfbench/`, with the Scala compiler that
ships in Spark's `jars/` directory. The output directory is keyed by a
digest of every source file, so a checkout builds once and rebuilds only
when a source changes.

    python3 perfbench/build.py        # prints the class directory
"""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH_DIR / "src"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark installation with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources() -> list:
    if not (PROGRAM_SRC / "graft").is_dir():
        raise BuildError(f"program sources not found under {PROGRAM_SRC.relative_to(ROOT)}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build(log=sys.stderr) -> Path:
    """Compile if needed; returns the class directory. Concurrent callers
    wait on a lock file instead of compiling over each other."""
    jars = spark_jars()
    files = sources()
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    with open(BUILD_DIR / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(jars, files, log)


def _build(jars: Path, files: list, log) -> Path:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    for old in BUILD_DIR.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD_DIR / "classes-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = str(jars / "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    tmp.rename(out)
    (out / ".ok").write_text("ok\n")
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
