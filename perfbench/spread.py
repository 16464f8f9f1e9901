#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over the untraced run records
in <build dir>/results: per workload and metric, the median and the distance
between the first and third quartile as a share of the median, next to a
third of the metric's bound (the steadiness target).

    python3 perfbench/spread.py [workload ...]
"""
import glob
import json
import os
import statistics
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for f in sorted(glob.glob(os.path.join(build.build_dir(), "results", "*-trace0.json"))):
        r = json.load(open(f))
        runs.setdefault(r["workload"], []).append(r)
    for w in sys.argv[1:] or sorted(runs):
        rs = runs.get(w, [])
        print(f"{w}: {len(rs)} runs, seeds {sorted(r['seed'] for r in rs)}")
        for name, bound in bounds.items():
            vals = [r["end_to_end"][name] for r in rs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bound / 3 else ("within bound" if spread <= bound else "TOO WIDE")
            print(f"  {name:16s} median {med:12.4f}  spread {spread:6.3f}  (bound/3 {bound / 3:.3f}) {flag}")


if __name__ == "__main__":
    main()
