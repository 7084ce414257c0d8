#!/usr/bin/env python3
"""Compare two sets of benchmark results, parent against change.

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories of records written by run.py (its
perfbench/results/ directory, copied aside per commit) or files of them.
For every workload and metric it prints each side's median and quartiles,
the share of pairs the change wins (pairs are matched by seed, ties count
for neither side) and a verdict against the metric's bound:

  better      the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than
              the bound
  unresolved  the parent's quartile spread is wider than the bound and not
              every change run beats every parent run
  same        none of the above

Results taken at different core counts are refused. Each workload's line
also shows both sides' median `steal_frac` (CPU time the hypervisor gave to
other guests): a side that ran under more steal reads slower for that
reason alone.
"""

import argparse
import glob
import json
import os
import statistics
import sys


BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
# untraced runs' time metrics, kept in the detail line: unbounded, compared
# like the rest
DETAIL_METRICS = {"ops_per_s": "higher", "op_p50_s": "lower", "cpu_s_per_op": "lower"}


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "result" not in rec or "env" not in rec:
            continue
        if rec["trace"] == 0:
            for k in DETAIL_METRICS:
                if k in rec["detail"]:
                    rec["result"]["metrics"][k] = {"value": rec["detail"][k]}
        out.append(rec)
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    a = ap.parse_args()

    with open(BENCHMARK) as f:
        bench = json.load(f)
    spec = {k: {"better": b} for k, b in DETAIL_METRICS.items()}
    spec.update({m["name"]: m for m in bench.get("end_to_end", []) + bench.get("per_layer", [])})
    sides = {"parent": load(a.parent), "change": load(a.change)}
    for name, recs in sides.items():
        if not recs:
            sys.exit("no results in %s" % getattr(a, name))
    cores = {(r["env"]["nproc"], r["env"]["local"]) for rs in sides.values() for r in rs}
    if len(cores) != 1:
        sys.exit("refusing to compare results taken at different core counts: %s"
                 % sorted(cores))

    keys = sorted({(r["workload"], r["trace"]) for rs in sides.values() for r in rs})
    print("%-14s %-26s %28s %28s %6s  %s" % ("workload", "metric", "parent q1/median/q3",
                                            "change q1/median/q3", "wins", "verdict"))
    for wl, tr in keys:
        by = {s: {r["seed"]: r for r in rs if r["workload"] == wl and r["trace"] == tr}
              for s, rs in sides.items()}
        if not by["parent"] or not by["change"]:
            continue
        steal = {s: statistics.median(r["env"].get("steal_frac") or 0.0 for r in rs.values())
                 for s, rs in by.items()}
        print("%-14s %d parent / %d change runs; median steal_frac %.3f / %.3f" % (
            wl if tr == 0 else wl + "*", len(by["parent"]), len(by["change"]),
            steal["parent"], steal["change"]))
        metrics = sorted({m for rs in by.values() for r in rs.values()
                          for m in r["result"]["metrics"]})
        for m in metrics:
            vals = {s: {seed: r["result"]["metrics"][m]["value"]
                        for seed, r in rs.items() if m in r["result"]["metrics"]}
                    for s, rs in by.items()}
            p, c = list(vals["parent"].values()), list(vals["change"].values())
            if not p or not c:
                continue
            lower = spec.get(m, {}).get("better", "lower") == "lower"
            bound = spec.get(m, {}).get("bound")
            pq, cq = quartiles(p), quartiles(c)
            seeds = sorted(set(vals["parent"]) & set(vals["change"]))
            pairs = [(vals["parent"][s], vals["change"][s]) for s in seeds] or list(zip(p, c))
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            frac = wins / len(pairs) if pairs else 0.0
            pm, cm = pq[1], cq[1]
            worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
            spread = (pq[2] - pq[0]) / pm if pm else 0.0
            all_better = all((y < x if lower else y > x) for x in p for y in c)
            if frac >= 0.9 and abs(cm - pm) > (pq[2] - pq[0]) and not worse_by > 0:
                verdict = "better"
            elif bound is not None and worse_by > bound:
                verdict = "worse"
            elif bound is not None and spread > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "same"
            fmt = lambda q: "%.4g/%.4g/%.4g" % q
            print("%-14s %-26s %28s %28s %5.0f%%  %s%s" % (
                wl if tr == 0 else wl + "*", m, fmt(pq), fmt(cq), 100 * frac, verdict,
                "" if bound is None else " (bound %.0f%%, %+.1f%%)" % (100 * bound, 100 * worse_by)))
    print("* traced runs (per-layer metrics)")


if __name__ == "__main__":
    main()
