#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark itself.

Usage (from the root of a checkout): python3 perfbench/selftest.py

For every workload, at tiny sizes, it asserts that
  - every metric the final JSON line must carry is there, with the unit
    BENCHMARK.json gives it, and every printed metric has a unit;
  - the outputs check clean (failed = 0);
  - a second seed changes the inputs but not the metric names;
  - the traced run carries every per-layer metric and writes spans;
and for the kNN workloads, that a deliberately corrupted result (two labels
swapped) raises failed_frac above 0.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("knn-batch", "knn-serve", "pipeline")


def run(workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[2:])}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    metrics, inputs = {}, None
    for line in lines[:-1]:
        parts = line.split()
        if parts and parts[0] == "metric":
            if len(parts) != 4:
                sys.exit(f"FAIL {workload}: metric line without a unit: {line!r}")
            metrics[parts[1]] = (float(parts[2]), parts[3])
        elif line.startswith("[perfbench] inputs "):
            inputs = line[len("[perfbench] inputs "):]
    return json.loads(lines[-1]), metrics, inputs


def check(cond, msg):
    if not cond:
        sys.exit(f"FAIL {msg}")
    print(f"ok   {msg}", flush=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in WORKLOADS:
        r1, m1, in1 = run(w, 1, 0)
        check(r1["correct"] and r1["failed"] == 0 and r1["attempted"] >= 1,
              f"{w}: outputs check clean ({r1['attempted']} checked)")
        check({k: v["unit"] for k, v in r1["metrics"].items()} == e2e,
              f"{w}: every end-to-end metric is reported with its unit")
        check(all(m1[k][1] == u for k, u in e2e.items()), f"{w}: the printed units agree")
        check(m1.get("failed_frac", (1, ""))[0] == 0, f"{w}: failed_frac is 0")
        r2, m2, in2 = run(w, 2, 0)
        check(in1 and in2 and in1 != in2, f"{w}: a second seed changes the inputs")
        check(sorted(m1) == sorted(m2), f"{w}: a second seed keeps the metric names")
        r3, _, _ = run(w, 1, 1)
        check({k: v["unit"] for k, v in r3["metrics"].items()} == layer,
              f"{w}: the traced run reports every per-layer metric with its unit")
        spans = os.path.join(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"),
                             f"spans-{w}-seed1.jsonl")
        check(os.path.getsize(spans) > 0, f"{w}: the traced run wrote spans")
        if w.startswith("knn"):
            rc, mc, _ = run(w, 1, 0, "--corrupt")
            check(rc["failed"] >= 1 and not rc["correct"] and mc["failed_frac"][0] > 0,
                  f"{w}: a corrupted result raises failed_frac to {mc['failed_frac'][0]:.4g}")
    print("selftest passed")


if __name__ == "__main__":
    main()
