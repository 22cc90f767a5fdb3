#!/usr/bin/env python3
"""Compare two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... --vs NEW_DIR_OR_FILES...

Each side is a list of record files (or directories of them) written by
run.py under .perfbench/records/. For every workload and end-to-end metric
of BENCHMARK.json it prints each side's median and quartiles, the change of
the median, and whether that change stays within the metric's bound.
Records taken on different numbers of cores are refused: numbers from
different core counts do not compare.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths):
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    recs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "metrics" in r and not r.get("trace"):
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("base", nargs="+")
    ap.add_argument("--vs", nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(args.base), load(args.vs)
    cores = {r["nproc"] for r in base + new}
    if len(cores) != 1:
        print(f"refusing to compare records taken at different core counts: {sorted(cores)}")
        return 2
    worse = 0
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        print(f"== {wl}: {sum(r['workload'] == wl for r in base)} base runs, "
              f"{sum(r['workload'] == wl for r in new)} new runs")
        for m in spec["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in base if r["workload"] == wl]
            b = [r["metrics"][m["name"]]["value"] for r in new if r["workload"] == wl]
            qa, qb = quartiles(a), quartiles(b)
            change = (qb[1] - qa[1]) / qa[1]
            regress = change if m["better"] == "lower" else -change
            ok = regress <= m["bound"]
            worse += not ok
            print(f"  {m['name']:28s} base {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"new {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  {change:+.1%}  "
                  f"{'ok' if ok else 'WORSE'} (bound {m['bound']:.0%})")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
