#!/usr/bin/env python3
"""Compare two sets of run artifacts of one workload.

    python3 perfbench/compare.py --base .bench_build/results/A*.json --new .bench_build/results/B*.json

For each end-to-end metric, prints each side's median and quartile
spread and the change against the bound in BENCHMARK.json. Refuses
(exit 2) to compare artifacts taken at a different `cpus`, workload,
run length or trace setting, or that lack provenance.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SAME = ("cpus", "workload", "seconds", "trace")


def load(paths):
    arts = []
    for p in paths:
        with open(p) as fh:
            a = json.load(fh)
        if "provenance" not in a:
            sys.exit(f"compare: {p} has no provenance; refusing")
        arts.append(a)
    return arts


def spread(xs):
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, 0.0
    q = statistics.quantiles(xs, n=4)
    return med, (q[2] - q[0]) / med if med else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    for k in SAME:
        seen = {json.dumps(x["provenance"][k]) for x in base + new}
        if len(seen) > 1:
            sys.exit(f"compare: artifacts differ in {k} ({', '.join(sorted(seen))}); refusing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    print(f"{'metric':24s} {'base med':>12s} {'iqr':>7s} {'new med':>12s} {'iqr':>7s} {'change':>8s}  verdict")
    for m in spec["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        b = [x["end_to_end"][name]["value"] for x in base if name in x.get("end_to_end", {})]
        n = [x["end_to_end"][name]["value"] for x in new if name in x.get("end_to_end", {})]
        if not b or not n:
            continue
        (bm, bs), (nm, ns) = spread(b), spread(n)
        change = (nm - bm) / bm if bm else 0.0
        worse = change if lower else -change
        if max(bs, ns) > bound:
            verdict = "unresolved (spread exceeds bound)"
        elif worse > bound:
            verdict = f"WORSE beyond bound {bound}"
        else:
            verdict = "within bound"
        print(f"{name:24s} {bm:12.3f} {bs:7.3f} {nm:12.3f} {ns:7.3f} {change:+8.3f}  {verdict}")


if __name__ == "__main__":
    main()
