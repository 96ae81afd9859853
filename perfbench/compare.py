#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent and a change.

Usage:
  python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

Each directory holds the stdout of `perfbench/run.py` runs, one file per run
(any name). A file's last line is the result JSON; the line before it is the
detail JSON that names the workload and seed. Untraced runs (end-to-end
metrics) and traced runs (per-layer metrics) may be mixed.

For every workload and end-to-end metric it prints the median and quartiles
of each side, how many same-seed pairs the change won, and a verdict:
  worse      the change's median is worse than the parent's by more than the
             metric's bound in BENCHMARK.json
  better     the change won at least nine tenths of the pairs and its median
             improved by more than the parent's spread (quartile distance)
  unchanged  the median is no worse than the bound allows
  unresolved the parent's spread is wider than the bound, unless every change
             run reads better than every parent run
It then lists the per-layer metrics of the traced runs whose medians moved
by more than 10%, largest first, so a verdict can be traced to a layer.
"""
import argparse
import json
import os
import statistics
import sys


def load_runs(directory):
    """{workload: {"e2e": [(seed, metrics)], "layers": [(seed, metrics)]}}"""
    runs = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        lines = [ln for ln in open(path).read().splitlines() if ln.strip()]
        if len(lines) < 2:
            continue
        try:
            detail = json.loads(lines[-2])["detail"]
            result = json.loads(lines[-1])
        except (ValueError, KeyError):
            continue
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        kind = "layers" if "setup_s" not in metrics else "e2e"
        runs.setdefault(detail["workload"], {"e2e": [], "layers": []})[kind].append(
            (detail["seed"], metrics))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, bound, lower_is_better, pair_wins, pairs):
    """Classify a change from the two samples of one metric."""
    q1, med_p, q3 = quartiles(parent)
    med_c = statistics.median(change)
    if med_p == 0:
        return "unresolved"
    gain = (med_p - med_c) / med_p if lower_is_better else (med_c - med_p) / med_p
    spread = (q3 - q1) / abs(med_p)
    if spread > bound:
        beats = max(change) < min(parent) if lower_is_better else min(change) > max(parent)
        return "better" if beats else "unresolved"
    if -gain > bound:
        return "worse"
    if pairs and pair_wins >= 0.9 * pairs and gain > spread:
        return "better"
    return "unchanged"


def pair_wins(parent, change, metric, lower_is_better):
    by_seed = {seed: m[metric] for seed, m in parent if metric in m}
    pairs = [(by_seed[seed], m[metric]) for seed, m in change
             if seed in by_seed and metric in m]
    wins = sum(1 for p, c in pairs if (c < p if lower_is_better else c > p))
    return wins, len(pairs)


def fmt(x):
    return f"{x:.4g}"


def compare(parent_dir, change_dir, bench, out=sys.stdout):
    parent, change = load_runs(parent_dir), load_runs(change_dir)
    for workload in sorted(set(parent) & set(change)):
        p, c = parent[workload], change[workload]
        out.write(f"== {workload}: {len(p['e2e'])} parent runs, {len(c['e2e'])} change runs\n")
        for spec in bench["end_to_end"]:
            name = spec["name"]
            pv = [m[name] for _, m in p["e2e"] if name in m]
            cv = [m[name] for _, m in c["e2e"] if name in m]
            if not pv or not cv:
                continue
            lower = spec["better"] == "lower"
            wins, pairs = pair_wins(p["e2e"], c["e2e"], name, lower)
            pq, cq = quartiles(pv), quartiles(cv)
            out.write(
                f"  {name:12s} parent {fmt(pq[1])} [{fmt(pq[0])}, {fmt(pq[2])}]"
                f"  change {fmt(cq[1])} [{fmt(cq[0])}, {fmt(cq[2])}]"
                f"  wins {wins}/{pairs}"
                f"  {verdict(pv, cv, spec['bound'], lower, wins, pairs)}\n")
        moved = []
        for spec in bench["per_layer"]:
            name = spec["name"]
            pv = [m[name] for _, m in p["layers"] if name in m]
            cv = [m[name] for _, m in c["layers"] if name in m]
            if not pv or not cv:
                continue
            mp, mc = statistics.median(pv), statistics.median(cv)
            if mp and abs(mc - mp) / abs(mp) > 0.10:
                moved.append(((mc - mp) / abs(mp), name, mp, mc, spec["unit"]))
        if moved:
            out.write("  per-layer medians that moved more than 10%:\n")
            for rel, name, mp, mc, unit in sorted(moved, key=lambda m: -abs(m[0])):
                out.write(f"    {name:26s} {fmt(mp)} -> {fmt(mc)} {unit} ({rel:+.0%})\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bench = json.load(fh)
    compare(args.parent, args.change, bench)


if __name__ == "__main__":
    main()
