#!/usr/bin/env python3
"""Compares two sets of benchmark reports, metric by metric.

Usage: compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Each side is a list of report files written by run.py (or directories
holding them). For every workload and metric the script prints both
medians, their quartile spreads and the change. It refuses to pair runs
made with different core counts: numbers from another core count are not
comparable.
"""
import glob
import json
import os
import statistics
import sys


def load(args):
    files = []
    for a in args:
        files += sorted(glob.glob(os.path.join(a, "*-trace*.json"))) if os.path.isdir(a) else [a]
    return [json.load(open(f)) for f in files if not f.endswith("-spans.json")]


def spread(xs):
    if len(xs) < 4:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    if "--" not in sys.argv:
        sys.exit(__doc__)
    cut = sys.argv.index("--")
    base, new = load(sys.argv[1:cut]), load(sys.argv[cut + 1:])
    cores = {r["env"]["cores"] for r in base + new}
    if len(cores) != 1:
        sys.exit(f"refusing to compare runs made with different core counts: {sorted(cores)}")
    for w in sorted({r["workload"] for r in base + new}):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            b = [r[key] for r in base if r["workload"] == w and r["trace"] == trace]
            n = [r[key] for r in new if r["workload"] == w and r["trace"] == trace]
            if not b or not n:
                continue
            for m in sorted(b[0]):
                bv = [x[m] for x in b if x.get(m) is not None]
                nv = [x[m] for x in n if x.get(m) is not None]
                if not bv or not nv:
                    continue
                bm, nm = statistics.median(bv), statistics.median(nv)
                change = (nm - bm) / bm if bm else float("nan")
                print(f"{w:9} {m:34} base {bm:12.4f} (iqr {spread(bv):.3f}, n={len(bv)})  "
                      f"new {nm:12.4f} (iqr {spread(nv):.3f}, n={len(nv)})  {change:+.3f}")


if __name__ == "__main__":
    main()
