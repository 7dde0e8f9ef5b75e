#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarize one.

Usage:
    python3 perfbench/compare.py PARENT [CHANGE]

PARENT and CHANGE are result sets: a directory of <workload>.jsonl files,
as run.py appends them under .bench_build/perfbench/results/, or one such
file. Untraced records give the end-to-end metrics, traced ones the
per-layer metrics.

With one set, prints per workload and metric the median, the quartiles
and the spread (quartile distance as a share of the median).

With two, pairs the i-th run of each side and prints per workload and
metric both medians and quartiles, the share of pairs the change won, and
a verdict:
  gain        the change won at least nine tenths of the pairs (ties count
              for neither side) and the medians differ by more than the
              parent's own quartile distance;
  regression  the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json;
  unresolved  the parent's spread is wider than the bound, and not every
              change run beats every parent run;
  no change   otherwise.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    """{(workload, trace): [metrics dict per run, in run order]}"""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".jsonl")]
             if os.path.isdir(path) else [path])
    runs = defaultdict(list)
    for f in files:
        for line in open(f):
            r = json.loads(line)
            runs[(r["workload"], r["trace"])].append(r["metrics"])
    return runs


def spec() -> dict:
    path = os.path.join(HERE, "..", "BENCHMARK.json")
    b = json.load(open(path)) if os.path.isfile(path) else {}
    return {m["name"]: m for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def quartiles(v: list) -> tuple:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def spread(v: list) -> float:
    q1, med, q3 = quartiles(v)
    return (q3 - q1) / med if med else float("inf")


def summarize(runs: dict) -> None:
    for (w, trace), rs in sorted(runs.items()):
        print(f"{w} trace={trace} runs={len(rs)}")
        for k in sorted({k for r in rs for k in r}):
            v = [r[k] for r in rs if k in r]
            q1, med, q3 = quartiles(v)
            print(f"  {k:28s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  spread {spread(v):7.2%}")


def verdict(name: str, p: list, c: list, metrics: dict) -> tuple:
    m = metrics.get(name, {})
    lower = m.get("better", "lower") == "lower"
    bound = m.get("bound")
    pairs = list(zip(p, c))
    won = sum(1 for a, b in pairs if (b < a if lower else b > a))
    lost = sum(1 for a, b in pairs if (b > a if lower else b < a))
    pq1, pm, pq3 = quartiles(p)
    _, cm, _ = quartiles(c)
    worse = (cm - pm) / pm if lower else (pm - cm) / pm
    if pairs and won >= 0.9 * len(pairs) and abs(cm - pm) > pq3 - pq1:
        v = "gain"
    elif bound is not None and worse > bound:
        v = "regression"
    elif bound is not None and spread(p) > bound and not (
            max(c) < min(p) if lower else min(c) > max(p)):
        v = "unresolved"
    else:
        v = "no change"
    return won, lost, len(pairs), v


def compare(parent: dict, change: dict) -> None:
    metrics = spec()
    for key in sorted(set(parent) & set(change)):
        w, trace = key
        p_runs, c_runs = parent[key], change[key]
        print(f"{w} trace={trace} parent runs={len(p_runs)} change runs={len(c_runs)}")
        for k in sorted({k for r in p_runs for k in r} & {k for r in c_runs for k in r}):
            p = [r[k] for r in p_runs if k in r]
            c = [r[k] for r in c_runs if k in r]
            won, lost, n, v = verdict(k, p, c, metrics)
            pq1, pm, pq3 = quartiles(p)
            cq1, cm, cq3 = quartiles(c)
            print(f"  {k:28s} parent {pm:10.5g} [{pq1:.5g}, {pq3:.5g}]  "
                  f"change {cm:10.5g} [{cq1:.5g}, {cq3:.5g}]  "
                  f"won {won}/{n} lost {lost}/{n}  {v}")


def main() -> None:
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sets = [load(p) for p in sys.argv[1:]]
    if len(sets) == 1:
        summarize(sets[0])
    else:
        compare(*sets)


if __name__ == "__main__":
    main()
