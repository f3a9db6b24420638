#!/usr/bin/env python3
"""Compare two sets of graft benchmark runs, or check the spread of one set.

Each set is a directory of run records, or record files, as run.py writes
them (under <build dir>/records, one JSON file per run).

    python3 perfbench/compare.py BASE_DIR NEW_DIR   # A/B verdicts
    python3 perfbench/compare.py RUNS_DIR           # spread of one set

For each workload and end-to-end metric of BENCHMARK.json, the A/B report
prints both medians and quartiles, the share of pairs NEW wins (runs paired
in the order they were made, so alternate the sides when you make them) and
a verdict against the metric's bound:

  worse       NEW's median is worse than BASE's by more than the bound
  better      NEW's median is better by more than the bound, and NEW wins
              at least 3 of 4 pairs
  unresolved  anything else

When both sets hold traced runs it also prints the per-layer medians and
their change. The one-set report prints each metric's spread (interquartile
range over median, as statistics.quantiles(n=4) gives the quartiles) against
the bound and a third of the bound.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_records(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    recs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "result" in r:
            recs.append(r)
    recs.sort(key=lambda r: r.get("started_at", 0))
    return recs


def quartiles(values):
    """(q1, median, q3), the quartiles statistics.quantiles(n=4) gives."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def improvement(base, new, better):
    """Relative change of `new` over `base`, positive when `new` is better."""
    if base == 0:
        return 0.0
    rel = (new - base) / abs(base)
    return -rel if better == "lower" else rel


def pair_wins(base, new, better):
    """Share of (base[i], new[i]) pairs where new is strictly better."""
    pairs = list(zip(base, new))
    if not pairs:
        return float("nan")
    won = sum(1 for b, n in pairs if (n < b if better == "lower" else n > b))
    return won / len(pairs)


def verdict(base, new, better, bound):
    gain = improvement(statistics.median(base), statistics.median(new), better)
    if gain < -bound:
        return "worse"
    if gain > bound and pair_wins(base, new, better) >= 0.75:
        return "better"
    return "unresolved"


def metric_values(recs, workload, name, traced):
    return [r["result"]["metrics"][name]["value"] for r in recs
            if r["workload"] == workload and bool(r["trace"]) == traced
            and name in r["result"]["metrics"]]


def workloads(recs):
    return sorted({r["workload"] for r in recs})


def fmt(x):
    return f"{x:.4g}"


def one_set(recs, bench):
    print(f"{'workload':14} {'metric':14} {'n':>3} {'median':>10} {'spread':>8} {'bound':>6}  check")
    ok = True
    for w in workloads(recs):
        for m in bench["end_to_end"]:
            vals = metric_values(recs, w, m["name"], False)
            if not vals:
                continue
            s = spread(vals)
            if m["name"] == "setup_s":
                check = "(setup: not bounded by spread)"
            elif s < m["bound"] / 3:
                check = "steady (< bound/3)"
            elif s <= m["bound"]:
                check = "within bound"
            else:
                check, ok = "OUTSIDE BOUND", False
            print(f"{w:14} {m['name']:14} {len(vals):>3} {fmt(statistics.median(vals)):>10} "
                  f"{s:>8.3f} {m['bound']:>6}  {check}")
    return ok


def two_sets(base, new, bench):
    print(f"{'workload':14} {'metric':14} {'base q1/med/q3':>28} {'new q1/med/q3':>28} "
          f"{'change':>8} {'won':>5}  verdict")
    for w in sorted(set(workloads(base)) & set(workloads(new))):
        for m in bench["end_to_end"]:
            b = metric_values(base, w, m["name"], False)
            n = metric_values(new, w, m["name"], False)
            if not b or not n:
                continue
            qb, qn = quartiles(b), quartiles(n)
            gain = improvement(qb[1], qn[1], m["better"])
            print(f"{w:14} {m['name']:14} {'/'.join(map(fmt, qb)):>28} {'/'.join(map(fmt, qn)):>28} "
                  f"{gain:>+8.3f} {pair_wins(b, n, m['better']):>5.2f}  "
                  f"{verdict(b, n, m['better'], m['bound'])}")
        layers = [p["name"] for p in bench["per_layer"]]
        rows = []
        for name in layers:
            b = metric_values(base, w, name, True)
            n = metric_values(new, w, name, True)
            if b and n:
                mb, mn = statistics.median(b), statistics.median(n)
                rel = (mn - mb) / abs(mb) if mb else 0.0
                rows.append((name, mb, mn, rel))
        if rows:
            print(f"  per-layer medians of the traced runs ({w}):")
            for name, mb, mn, rel in rows:
                print(f"    {name:34} {fmt(mb):>10} -> {fmt(mn):>10}  {rel:+.3f}")


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(BENCHMARK) as f:
        bench = json.load(f)
    if len(argv) == 2:
        return 0 if one_set(load_records(argv[1]), bench) else 1
    two_sets(load_records(argv[1]), load_records(argv[2]), bench)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
