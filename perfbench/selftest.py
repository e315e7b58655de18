#!/usr/bin/env python3
"""Builds the benchmark and runs the checks of its own metric logic
(perfbench.SelfTest: tail percentile, driver gap, self time, digest).

Usage: selftest.py
"""
import subprocess
import sys

import build

if __name__ == "__main__":
    try:
        classes, _ = build.build()
    except build.BuildError as e:
        print(f"selftest: build failed: {e}", file=sys.stderr)
        sys.exit(2)
    sys.exit(subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes),
                             "perfbench.SelfTest"]).returncode)
