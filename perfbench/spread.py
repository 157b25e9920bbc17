#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's spread.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workload knn-serve --seeds 1-10 [--seconds S] [--trace 0]

For every metric in the final JSON line it prints the median of the runs and
the distance between the first and third quartile as a share of the median
(Python's statistics.quantiles(values, n=4)), next to the metric's bound
from BENCHMARK.json. A spread above a third of its bound means the figure is
not yet steady enough to judge a change by.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = a.seconds or str(bench["run_seconds"])
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", seconds, "--trace", a.trace],
                           cwd=ROOT, capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {s}: {walls[-1]:.1f} s wall, correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / abs(med)
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE")
        print(f"{k:44s} median {med:.6g}  spread {spread:.3f}  bound {b}  {flag}")


if __name__ == "__main__":
    main()
