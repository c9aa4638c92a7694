#!/usr/bin/env python3
"""Summarize or compare benchmark records.

Usage:
    python3 perfbench/compare.py DIR            # medians and spread of one set
    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each DIR holds the untraced records one workload's runs left
(`perfbench/out/records/<workload>/seed*.trace0.json`, copied aside per
commit). For every end-to-end metric it prints the median over the runs and
the interquartile range as a share of the median; with two sets, also the
ratio of the medians. Records measured on different core counts are refused:
their numbers do not compare.
"""
import json
import statistics
import sys
from pathlib import Path


def load(d):
    recs = [json.loads(p.read_text()) for p in sorted(Path(d).glob("seed*.trace0.json"))]
    if not recs:
        sys.exit(f"no untraced records in {d}")
    return recs


def machine(rec):
    env = rec["env"]
    return (env["cpus"], env["nproc"])


def summary(recs, name):
    vals = [r["end_to_end"][name] for r in recs]
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
    else:
        spread = float("nan")
    return med, spread


def main(dirs):
    sets = [load(d) for d in dirs]
    kinds = {machine(r) for recs in sets for r in recs}
    if len(kinds) > 1:
        sys.exit("refusing to compare records from different machines "
                 f"(cpus, nproc): {sorted(kinds)}")
    workloads = {r["workload"] for recs in sets for r in recs}
    if len(workloads) > 1:
        sys.exit(f"records of different workloads: {sorted(workloads)}")
    names = [n for n in sets[0][0]["end_to_end"]
             if all(n in r["end_to_end"] for recs in sets for r in recs)]
    if not names:
        sys.exit("the records share no end-to-end metric")
    print(f"workload {workloads.pop()}, cpus/nproc {kinds.pop()}, "
          f"runs {' vs '.join(str(len(s)) for s in sets)}")
    for name in names:
        cols = [summary(recs, name) for recs in sets]
        line = f"{name:<16}" + "".join(f"{m:>14.4f} (IQR {s * 100:5.1f}%)" for m, s in cols)
        if len(cols) == 2 and cols[0][0]:
            line += f"   new/base {cols[1][0] / cols[0][0]:.3f}"
        print(line)


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    main(sys.argv[1:])
