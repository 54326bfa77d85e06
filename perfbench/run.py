#!/usr/bin/env python3
"""End-to-end CCSDS ingest benchmark: bytes on disk -> parquet.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_tidy --seed 1 --seconds 10 --trace 0

Workloads: ingest_tidy, ingest_wide, stream_replay (see perfbench/LAYERS.md).
The first run builds the program and the benchmark with sbt (the
benchmark's own build in perfbench/ depends on the root build) and caches
the runtime classpath under .bench_build/perfbench; later runs start the
JVM directly. The last stdout line is the JSON result; the exit code is
non-zero when any output check fails or the run does not complete.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
CLASSPATH = WORK / "classpath.txt"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("ingest_tidy", "ingest_wide", "stream_replay")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    digest = source_digest()
    if CLASSPATH.exists():
        cached_digest, _, cp = CLASSPATH.read_text().partition("\n")
        if cached_digest == digest and cp.strip():
            return cp.strip()
    print("perfbench: building (sbt compile)", file=sys.stderr, flush=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or cp.startswith("[") or ".jar" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    WORK.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(digest + "\n" + cp + "\n")
    return cp


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() if out.returncode == 0 and out.stdout.strip() else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the input size (sizing probes only; default 1)")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")
    if shutil.which("sbt") is None and not CLASSPATH.exists():
        fail("sbt is needed for the first build")

    cp = classpath()
    WORK.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    # fixed heap and the throughput collector: fewer run-to-run swings
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'conf' / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", str(WORK), "--commit", git_commit(), "--scale", str(args.scale)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK / f"{args.workload}-{args.seed}", ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"run did not complete (exit {proc.returncode})")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
