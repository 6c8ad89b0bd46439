#!/usr/bin/env python3
"""Smoke test of the benchmark.

Runs every workload on sf0.001-sized inputs (--smoke), untraced and
traced, and checks that each run exits 0, is correct, and prints exactly
the metrics BENCHMARK.json names, each with its unit. Takes a few minutes.

Usage, from the repository root:  python3 perfbench/test_smoke.py
"""
import json
import subprocess
import sys


def run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=400)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    for workload in workloads:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            result = run(workload, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] is True and result["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{workload} {kind}: {sorted(set(got) ^ set(want))}"
            assert all(isinstance(v["value"], (int, float))
                       for v in result["metrics"].values())
            print(f"ok {workload} trace={trace}")
    print("smoke: all workloads emit every metric")


if __name__ == "__main__":
    main()
