#!/usr/bin/env python3
"""Benchmark of graft's three user paths: PDF batch ingest, RAG query and
live-collection mutation.

Usage (from the repository root):
  python3 graftbench/run.py --workload ingest_pdf|rag_query|mutate_mix \
      --seed N --seconds S --trace 0|1
  python3 graftbench/run.py --selftest

Builds the program and the benchmark first (graftbench/build.py), then runs
one fresh JVM. Spark logs go to stderr; the last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}. Every file the run
writes lives under the build directory and is removed at the end.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_pdf", "rag_query", "mutate_mix")
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, work, t0_ms, args):
    opts = ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=256m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(build.BENCH, 'log4j2.properties'))}",
            f"-Dgraftbench.t0={t0_ms}"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return ["java"] + opts + ["-cp", build.classpath(classes), "graftbench.Main"] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes = build.build()
    work = os.path.abspath(os.path.join(build.build_dir(), f"work-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    args = (["--selftest", "1"] if a.selftest else
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--out", out])
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0_ms = int(time.time() * 1000)
    proc = subprocess.Popen(jvm(classes, work, t0_ms, args), stdout=sys.stderr, stderr=sys.stderr)
    try:
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -1
            print(f"graftbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        if code != 0:
            return 1
        if a.selftest:
            return 0
        with open(out) as f:
            line = f.read().strip()
        if set(json.loads(line)) != {"correct", "attempted", "failed", "metrics"}:
            print("graftbench: malformed result", file=sys.stderr)
            return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
