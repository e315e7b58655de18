#!/usr/bin/env python3
"""Runs a workload several times, one seed per run, and prints each
end-to-end metric's median and its quartile spread (IQR / median).

Usage: spread.py --workload NAME [--runs 10] [--first-seed 1] [--seconds T]
                 [--trace 0|1] [--log FILE]

The seconds default to BENCHMARK.json's run_seconds. Each run's result
line is appended to FILE (default .bench_build/out/spread-NAME.jsonl).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser(description="Measure run-to-run spread.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--log")
    a = ap.parse_args()
    seconds = a.seconds or json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    log = Path(a.log or ROOT / ".bench_build" / "out" / f"spread-{a.workload}.jsonl")
    log.parent.mkdir(parents=True, exist_ok=True)
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", a.trace]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if res.returncode != 0:
            sys.stderr.write(res.stderr[-2000:])
            sys.exit(f"seed {seed}: run failed with {res.returncode}")
        result = json.loads(res.stdout.strip().splitlines()[-1])
        with log.open("a") as f:
            f.write(json.dumps({"seed": seed, **result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{k:32s} median {med:12.5g}  iqr/median {spread:7.3f}")


if __name__ == "__main__":
    main()
