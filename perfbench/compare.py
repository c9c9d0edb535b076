#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent (A) and a change (B).

    python3 perfbench/compare.py A B

A and B are each a directory of result files written by run.py (its
.bench_results/ directory, or a copy of it) or a single such file; use two
directories of one commit to see its run-to-run spread. For every workload
and metric the tool prints each side's median and quartiles, how many
seed-matched pairs the change won, and a verdict:

  improved    the change wins at least 9/10 of the pairs (ties count for
              neither), over at least ten pairs, and the medians differ by
              more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json (metrics without a bound,
              per-layer or printed only: the mirror image of "improved")
  unresolved  the parent's quartile spread is wider than the bound, unless
              every run of the change reads better than every run of A
  unchanged   otherwise
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    files = [os.path.join(path, f) for f in sorted(os.listdir(path))] if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        if f.endswith(".json"):
            with open(f) as fh:
                r = json.load(fh)
            if r.get("result", {}).get("correct") is not None:
                runs.append(r)
    return runs


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(a, b, pairs, lower, bound):
    qa1, ma, qa3 = quartiles(a)
    mb = statistics.median(b)
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    decided = [(x, y) for x, y in pairs if x != y]
    won = sum(1 for x, y in decided if better(y, x))
    lost = len(decided) - won
    spread = qa3 - qa1
    if len(pairs) >= 10 and won >= 0.9 * len(pairs) and better(mb, ma) and abs(mb - ma) > spread:
        return won, "improved"
    if bound is None:
        if len(pairs) >= 10 and lost >= 0.9 * len(pairs) and better(ma, mb) and abs(mb - ma) > spread:
            return won, "worse"
        return won, "unchanged"
    worse_by = (mb - ma) / ma if lower else (ma - mb) / ma
    if ma and worse_by > bound:
        return won, "worse"
    if ma and spread / abs(ma) > bound and not all(better(y, x) for x in a for y in b):
        return won, "unresolved"
    return won, "unchanged"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sides = [load(p) for p in sys.argv[1:]]
    for trace in (0, 1):
        for wl in sorted({r["workload"] for s in sides for r in s if r["trace"] == trace}):
            ra, rb = ([r for r in s if r["workload"] == wl and r["trace"] == trace] for s in sides)
            if not ra or not rb:
                print(f"\n{wl} (trace {trace}): runs on one side only, skipped")
                continue
            print(f"\n{wl} (trace {trace}): A {len(ra)} runs, B {len(rb)} runs, "
                  f"failed A {sum(r['result']['failed'] for r in ra)} B {sum(r['result']['failed'] for r in rb)}")
            print(f"  {'metric':30s} {'A q1/median/q3':>32s} {'B q1/median/q3':>32s} {'won':>7s}  verdict")
            for name in sorted(ra[0]["all_metrics"]):
                if name not in rb[0]["all_metrics"]:
                    continue
                a = [r["all_metrics"][name] for r in ra]
                b = [r["all_metrics"][name] for r in rb]
                by_seed = {r["seed"]: r["all_metrics"][name] for r in rb}
                pairs = [(r["all_metrics"][name], by_seed[r["seed"]])
                         for r in ra if r["seed"] in by_seed] or list(zip(a, b))
                m = spec.get(name, {})
                won, v = verdict(a, b, pairs, m.get("better", "lower") == "lower", m.get("bound"))
                fa = "/".join(f"{x:.4g}" for x in quartiles(a))
                fb = "/".join(f"{x:.4g}" for x in quartiles(b))
                print(f"  {name:30s} {fa:>32s} {fb:>32s} {won:>3d}/{len(pairs):<3d}  {v}")


if __name__ == "__main__":
    main()
