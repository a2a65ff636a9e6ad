#!/usr/bin/env python3
"""Compare N parent runs with N change runs of perfbench/run.py, pair by pair.

    python3 tools/perfbench_pairs.py PARENT_RESULTS CHANGE_RESULTS [--benchmark BENCHMARK.json] [--each]

Each results file holds the result JSON lines of one side's runs, in run
order (the last stdout line of each `perfbench/run.py` run; other lines are
skipped). Run i of the parent is paired with run i of the change, so run
the pairs alternately and append each side's line as it finishes.

For every metric both sides report, prints each side's median and quartiles,
the share of pairs the change wins (ties count for neither), whether the
gain rule holds (the change wins at least 9/10 of the pairs AND the medians
differ by more than the parent's interquartile range), and the relative
change of the median, (change - parent) / |parent|, as a signed percentage
(`n/a` when the parent median is 0). For an end-to-end metric with a `bound`
in BENCHMARK.json it also prints that bound as a percentage and the
regression side: `WORSE` when the change median is worse than the parent
median by more than the bound (a fraction of the parent median), else `ok`. Which way is better
comes from the metric's `better` field in BENCHMARK.json (lower when not
listed). `--each` adds every pair's parent -> change values per metric.
Exit status is 0 unless a file has no result line.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path


def results(path):
    """The `metrics` objects of the result lines in `path`, in order."""
    out = []
    for line in Path(path).read_text().splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            out.append({k: v["value"] for k, v in obj["metrics"].items()})
    return out


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(benchmark):
    """Metric name -> ("lower" or "higher", bound or None), from BENCHMARK.json.
    Only end-to-end metrics carry a bound."""
    spec = json.loads(Path(benchmark).read_text())
    return {m["name"]: (m.get("better", "lower"), m.get("bound") if key == "end_to_end" else None)
            for key in ("end_to_end", "per_layer") for m in spec.get(key, [])}


def compare(parent, change, better):
    """One row per metric present on both sides of every pair: (name, parent
    quartiles, change quartiles, wins, pairs, gain rule holds, relative
    median change or None when the parent median is 0, bound or None,
    regression verdict or None when the metric has no bound, the pairs)."""
    n = min(len(parent), len(change))
    names = [k for k in parent[0] if all(k in r for r in parent[:n] + change[:n])]
    rows = []
    for name in names:
        p = [r[name] for r in parent[:n]]
        c = [r[name] for r in change[:n]]
        direction, bound = better.get(name, ("lower", None))
        lower = direction == "lower"
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        pq, cq = quartiles(p), quartiles(c)
        iqr = pq[2] - pq[0]
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        holds = wins * 10 >= 9 * n and gain > iqr
        regress = None if bound is None else -gain > bound * abs(pq[1])
        delta = None if pq[1] == 0 else (cq[1] - pq[1]) / abs(pq[1])
        rows.append((name, pq, cq, wins, n, holds, delta, bound, regress, list(zip(p, c))))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="results file of the parent runs")
    ap.add_argument("change", help="results file of the change runs")
    ap.add_argument("--benchmark", default=str(Path(__file__).resolve().parent.parent / "BENCHMARK.json"),
                    help="BENCHMARK.json giving each metric's better direction and bound")
    ap.add_argument("--each", action="store_true",
                    help="also print every pair's parent -> change values")
    args = ap.parse_args()
    parent, change = results(args.parent), results(args.change)
    if not parent or not change:
        print("perfbench_pairs: a results file has no result line", file=sys.stderr)
        return 1
    if len(parent) != len(change):
        print(f"perfbench_pairs: {len(parent)} parent and {len(change)} change runs; "
              f"comparing the first {min(len(parent), len(change))} pairs", file=sys.stderr)
    better = directions(args.benchmark) if Path(args.benchmark).exists() else {}
    fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    rows = compare(parent, change, better)
    print(f"{'metric':42s} {'parent median [q1, q3]':32s} {'change median [q1, q3]':32s} "
          f"{'wins':>7s}  rule   {'Δ%':>7s}  bound")
    for name, pq, cq, wins, n, holds, delta, bound, regress, _ in rows:
        pct = "n/a" if delta is None else f"{100 * delta:+.1f}%"
        verdict = "" if regress is None else f"{100 * bound:g}% " + ("WORSE" if regress else "ok")
        print(f"{name:42s} {fmt(pq):32s} {fmt(cq):32s} {wins:>3d}/{n:<3d}  "
              f"{'holds' if holds else 'no':5s}  {pct:>7s}  {verdict}".rstrip())
    if args.each:
        for name, *_, pairs in rows:
            print(f"{name}: " + ", ".join(f"{a:.4g} -> {b:.4g}" for a, b in pairs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
