#!/usr/bin/env python3
"""Compares two sets of benchmark runs, per workload and metric.

    python3 perfbench/compare.py <base-dir> <change-dir>

Each directory holds one file per run: the stdout of perfbench/run.py
(its last two lines are the detail line, naming the workload, and the
result). Runs of one workload are paired in file-name order, so name the
files of both sides alike (e.g. `<workload>-<seed>.txt`) and run the
sides alternately.

For every timing metric the report gives each side's median and
quartiles, the pairs the change won (ties count for neither) and a
verdict:
  - better:     the change won at least nine tenths of the pairs and the
                medians differ by more than the base's quartile spread;
  - worse:      the change's median is worse than the base's by more than
                the metric's bound in BENCHMARK.json;
  - unresolved: the base's own quartile spread is wider than the bound,
                so "no worse" cannot be told from noise, unless every
                change run beats every base run;
  - same:       otherwise.
Count metrics (unit "count") are compared exactly: "equal" when every run
of both sides reads the same value, else both sides' distinct values.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(d):
    runs = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name)) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        if len(lines) < 2:
            continue
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        key = (detail["workload"], bool(detail["trace"]))
        runs.setdefault(key, []).append(result)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, change, better, bound):
    """The section 8 rule of the choosing-metrics method."""
    sign = -1 if better == "lower" else 1
    wins = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    pairs = min(len(base), len(change))
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    spread = bq3 - bq1
    if pairs and wins >= 0.9 * pairs and abs(cmed - bmed) > spread:
        v = "better"
    elif bound is not None and bmed and sign * (cmed - bmed) / abs(bmed) < -bound:
        v = "worse"
    elif bound is not None and bmed and spread / abs(bmed) > bound and not (
            min(change) > max(base) if sign > 0 else max(change) < min(base)):
        v = "unresolved"
    else:
        v = "same"
    return wins, pairs, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, change = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    print(f"{'workload':20s} {'metric':34s} {'base q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'won':>6s}  verdict")
    for key in sorted(set(base) & set(change)):
        b_runs, c_runs = base[key], change[key]
        names = sorted(set(b_runs[0]["metrics"]) & set(c_runs[0]["metrics"]))
        for name in names:
            b = [r["metrics"][name]["value"] for r in b_runs]
            c = [r["metrics"][name]["value"] for r in c_runs]
            m = meta.get(name, {})
            unit = b_runs[0]["metrics"][name]["unit"]
            if unit == "count":
                same = len(set(b) | set(c)) == 1
                print(f"{key[0]:20s} {name:34s} {'':>30s} {'':>30s} {'':>6s}  "
                      + ("equal" if same else
                         f"counts differ: base {sorted(set(b))} change {sorted(set(c))}"))
                continue
            wins, pairs, v = verdict(b, c, m.get("better", "lower"), m.get("bound"))
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{key[0]:20s} {name:34s} {fmt(quartiles(b)):>30s} "
                  f"{fmt(quartiles(c)):>30s} {wins:>3d}/{pairs:<2d}  {v}")
        fails = (sum(r["failed"] for r in b_runs), sum(r["failed"] for r in c_runs))
        if any(fails):
            print(f"{key[0]:20s} failed ops: base {fails[0]}, change {fails[1]}")


if __name__ == "__main__":
    main()
