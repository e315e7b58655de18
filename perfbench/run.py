#!/usr/bin/env python3
"""Runs one workload of the engine's benchmark and prints its result.

Usage: run.py --workload NAME --seed N --seconds T --trace 0|1

Builds the engine from source (build.py) on first use, under `.bench_build/`
in the checkout, then runs `perfbench.Main` in one JVM over the engine's
scale-factor 0.01 test tables, copied to `perfbench/data/sf0.01`. Prints the
run record (conf, cores, heap, revision, seed) and, as the last line, the
result object:
{"correct", "attempted", "failed", "metrics"}. A traced run (`--trace 1`)
also writes its spans to `.bench_build/out/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import build

ROOT = build.ROOT
BENCH = build.BENCH
DATA = BENCH / "data" / "sf0.01"
HEAP = "4g"
# `pairwise` is not among BENCHMARK.json's workloads; it runs by hand.
WORKLOADS = ("reference", "streaming", "pairwise")
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def revision(stamp):
    try:
        rev = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        git = rev.stdout.strip() if rev.returncode == 0 else "nogit"
    except (OSError, subprocess.TimeoutExpired):
        git = "nogit"
    return f"{git}+src:{stamp}"


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", action="store_true",
                    help="write the expected digests instead of checking them")
    a = ap.parse_args()

    try:
        classes, stamp = build.build()
    except build.BuildError as e:
        print(f"run: build failed: {e}", file=sys.stderr)
        return 2
    tmp = build.OUT / "tmp" / f"run-{os.getpid()}"
    out = build.OUT / "out"
    tmp.mkdir(parents=True, exist_ok=True)
    out.mkdir(parents=True, exist_ok=True)
    expected = BENCH / "expected" / f"{a.workload}.tsv"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           # C1 only: the default tiered JIT keeps compiling with C2 through
           # the first minutes, which adds about 10 s of set-up per run.
           "-XX:TieredStopAtLevel=1",
           # Keeps the JVM's perf-data file out of the system temp dir; all
           # other temporary files go under the run's own directory.
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", build.classpath(classes), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", str(DATA), "--tmp", str(tmp), "--expected", str(expected),
            "--revision", revision(stamp),
            "--out", str(out / f"trace-{a.workload}-seed{a.seed}.jsonl")]
    if a.record:
        cmd += ["--record", str(expected)]
    try:
        proc = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True,
                              timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run: benchmark exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stdout[-4000:])
        print(f"run: benchmark exited with {proc.returncode}", file=sys.stderr)
        return 1
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"run: malformed result line: {lines[-1]}", file=sys.stderr)
        return 1
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
