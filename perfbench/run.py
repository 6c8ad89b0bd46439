#!/usr/bin/env python3
"""Runs one benchmark workload; see perfbench/README.md.

Usage, from the repository root:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--smoke]

Builds the program and the benchmark (perfbench/build.py), then runs the
workload in a JVM at local[<cores>] and relays its standard output; the
last line is the result JSON. The exit code is the JVM's: 1 when a
correctness check failed; 2 when the build failed; 3 when the JVM was
killed at the deadline.
"""
import argparse
import os
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dedupe_learned", "block_score_cluster", "ingest_batches")
HEAP = "4g"
# A run must end within 180 s, not counting a first run's compile. The
# JVM is killed at this deadline, counted from the end of the build; it
# starts another iteration only if one more fits before it.
DEADLINE_S = 170.0


def run_jvm(cmd, budget):
    """Runs one JVM that plans its iterations to end within `budget`
    seconds and is killed after it; relays its standard output."""
    proc = subprocess.Popen(cmd + ["--budget", f"{budget:.0f}"])
    watchdog = threading.Timer(budget, proc.kill)
    watchdog.start()
    try:
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    if code < 0:
        print(f"perfbench: JVM killed by signal {-code}", file=sys.stderr)
        return 3
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001-sized inputs, for the benchmark's own test")
    a = ap.parse_args()
    try:
        classes = build.build(os.getcwd())
        java = build.java_command(os.getcwd(), classes, HEAP)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    cmd = java + ["perfbench.Main", "--workload", a.workload,
                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace)] + (["--smoke"] if a.smoke else [])
    return run_jvm(cmd, DEADLINE_S)


if __name__ == "__main__":
    sys.exit(main())
