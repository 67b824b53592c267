#!/usr/bin/env python3
"""Steadiness check over saved benchmark outputs.

    python3 perfbench/spread.py <result-file>...

Each file holds the stdout of one `perfbench/run.py --trace 0` run; the
last line is the result JSON. For every end-to-end metric this prints the
median over the runs and the spread: the distance between the first and
third quartile (statistics.quantiles, n=4) as a share of the median,
beside a third of the metric's bound from BENCHMARK.json.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(paths):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    runs = []
    for p in paths:
        with open(p) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
        runs.append(json.loads(lines[-1]))
    print(f"{len(runs)} runs, correct: {sum(r['correct'] for r in runs)}")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        if len(vals) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
        else:
            spread = float("nan")
        flag = "ok" if spread <= bound / 3 else "WIDE"
        print(f"{name:16s} median {med:14.4f} spread {spread:7.4f} "
              f"(bound/3 {bound / 3:.4f}) {flag}")


if __name__ == "__main__":
    main(sys.argv[1:])
