#!/usr/bin/env python3
"""Compare two sets of benchmark runs (standard library only).

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are result files, directories of them, or glob patterns
(run.py writes one file per run under .bench_results/). For each workload
and end-to-end metric it prints both sides' quartiles and a verdict judged
against the bounds in BENCHMARK.json:

  regressed   the change's median is worse than the base's by more than
              the metric's bound;
  improved    the change wins at least 9 in 10 run pairs (runs paired by
              seed where both sides ran it, else in order; ties count for
              neither) and the medians differ by more than the base's
              interquartile range;
  unresolved  either side's interquartile range, as a share of its median,
              is wider than the bound, and not every change run beats
              every base run;
  unchanged   otherwise.

Traced runs (--trace 1) give the per-layer medians printed after each
workload's rows, with the change's delta.
"""

import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import results  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def by_workload(runs, trace):
    out = {}
    for r in runs:
        if r.get("trace", 0) == trace and r.get("workload"):
            out.setdefault(r["workload"], []).append(r)
    return out


def values(runs, metric):
    """(seed, value) of every run that reported `metric`."""
    return [(r.get("seed"), r["result"]["metrics"][metric]["value"])
            for r in runs if metric in r["result"]["metrics"]]


def pairs(base, change):
    bs, cs = dict(base), dict(change)
    common = [s for s in bs if s in cs and s is not None]
    if len(common) == min(len(base), len(change)):
        return [(bs[s], cs[s]) for s in common]
    return list(zip([v for _, v in base], [v for _, v in change]))


def judge(base_pts, change_pts, bound, lower_is_better):
    base = [v for _, v in base_pts]
    change = [v for _, v in change_pts]
    bq, cq = results.quartiles(base), results.quartiles(change)

    def better(c, b):
        return c < b if lower_is_better else c > b

    worse = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
    if not lower_is_better:
        worse = -worse
    if worse > bound:
        return "regressed", bq, cq
    ps = [(b, c) for b, c in pairs(base_pts, change_pts) if b != c]
    wins = sum(1 for b, c in ps if better(c, b))
    if ps and wins >= 0.9 * len(ps) and abs(cq[1] - bq[1]) > bq[2] - bq[0] \
            and better(cq[1], bq[1]):
        return "improved", bq, cq
    spread = max((bq[2] - bq[0]) / bq[1] if bq[1] else 0.0,
                 (cq[2] - cq[0]) / cq[1] if cq[1] else 0.0)
    if spread > bound:
        if all(better(c, b) for c in change for b in base):
            return "improved", bq, cq
        return "unresolved", bq, cq
    return "unchanged", bq, cq


def fmt(x):
    return "%.4g" % x


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    base_runs, change_runs = results.load_runs([argv[1]]), results.load_runs([argv[2]])
    if not base_runs or not change_runs:
        print("no runs found on one side", file=sys.stderr)
        return 2
    b_plain, c_plain = by_workload(base_runs, 0), by_workload(change_runs, 0)
    b_traced, c_traced = by_workload(base_runs, 1), by_workload(change_runs, 1)
    header = "%-14s %-14s %6s %-28s %-28s %s" % (
        "workload", "metric", "bound", "base q1/med/q3 (n)", "change q1/med/q3 (n)", "verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        if w not in b_plain or w not in c_plain:
            print("%s: untraced runs missing on one side" % w)
            continue
        print(header)
        for m in bench["end_to_end"]:
            bp, cp = values(b_plain[w], m["name"]), values(c_plain[w], m["name"])
            if not bp or not cp:
                continue
            v, bq, cq = judge(bp, cp, m["bound"], m["better"] == "lower")
            print("%-14s %-14s %6.2f %-28s %-28s %s" % (
                w, m["name"], m["bound"],
                "%s/%s/%s (%d)" % (fmt(bq[0]), fmt(bq[1]), fmt(bq[2]), len(bp)),
                "%s/%s/%s (%d)" % (fmt(cq[0]), fmt(cq[1]), fmt(cq[2]), len(cp)), v))
        if w in b_traced and w in c_traced:
            print("  per-layer medians (traced runs: base %d, change %d)" % (
                len(b_traced[w]), len(c_traced[w])))
            for m in bench["per_layer"]:
                bp, cp = values(b_traced[w], m["name"]), values(c_traced[w], m["name"])
                if not bp or not cp:
                    continue
                bm, cm = results.quartiles([v for _, v in bp])[1], \
                    results.quartiles([v for _, v in cp])[1]
                if bm == 0 and cm == 0:
                    continue
                delta = "%+.1f%%" % (100 * (cm - bm) / bm) if bm else "new"
                print("  %-34s %12s -> %-12s %-8s %s" % (
                    m["name"], fmt(bm), fmt(cm), m["unit"], delta))
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
