#!/usr/bin/env python3
"""Compare benchmark runs of a parent tree and of a change.

    python3 perfbench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]

Run the two sides alternately (parent, change, parent, ...) with the same
seeds: on a shared host the machine's speed drifts over minutes, and two
sets of the same code run one after the other have differed by 10 %.

PARENT and CHANGE are each a directory (or a list of files, comma
separated) of run outputs: either the report files run.py leaves in
`.bench_build/reports/` or captured stdout of run.py. For each workload
and metric it prints the medians and quartiles of both sides, the pair
win fraction (runs paired by seed when both sides have the seed, else in
order) and a verdict:

- regressed:  the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json;
- improved:   the change wins at least nine tenths of the pairs (ties count
              for neither side) and its median is better by more than the
              parent's own spread (interquartile range over median);
- unchanged:  the medians differ by less than the parent's spread;
- unresolved: anything else, including any metric whose spread is wider
              than its bound.

Per-layer metrics have no bound; "worse" marks one that reads worse by
more than the spread in at least nine tenths of the pairs.
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys


def load_run(path):
    """Return (workload, seed, trace, metrics) from one run output."""
    with open(path, errors="replace") as f:
        text = f.read()
    try:
        doc = json.loads(text)
        if isinstance(doc, dict) and "report" in doc:
            res = doc["result"]
            trace = 1 if res.get("trace") else 0
            seed = re.search(r"seed(\d+)", os.path.basename(path))
            return (res["workload"], int(seed.group(1)) if seed else None, trace,
                    doc["report"]["metrics"])
    except json.JSONDecodeError:
        pass
    lines = [l for l in text.splitlines() if l.strip()]
    head = next((l for l in lines if l.startswith("workload ")), None)
    if head is None or not lines[-1].startswith("{"):
        return None
    m = re.match(r"workload (\S+): .*seed (\d+).*trace=(\d)", head)
    return m.group(1), int(m.group(2)), int(m.group(3)), json.loads(lines[-1])["metrics"]


def load_side(spec):
    paths = []
    for part in spec.split(","):
        if os.path.isdir(part):
            paths += sorted(glob.glob(os.path.join(part, "*")))
        else:
            paths.append(part)
    runs = [r for r in (load_run(p) for p in paths if os.path.isfile(p)) if r]
    if not runs:
        sys.exit(f"no run outputs found in {spec}")
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound, wins):
    """Verdict and relative gain (> 0: the change is better)."""
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    if pm == 0:
        return ("unchanged" if cm == 0 else "unresolved"), 0.0
    sign = -1 if better == "lower" else 1
    gain = sign * (cm - pm) / abs(pm) + 0.0
    noise = (p3 - p1) / abs(pm)
    if bound is not None and -gain > bound:
        return "regressed", gain
    if gain > noise and wins >= 0.9:
        return "improved", gain
    if bound is None and -gain > noise and wins <= 0.1:
        return "worse", gain
    if bound is not None and noise > bound:
        return "unresolved", gain
    if abs(gain) <= noise:
        return "unchanged", gain
    return "unresolved", gain


def win_fraction(pairs, better):
    if not pairs:
        return float("nan")
    wins = sum((c < p) if better == "lower" else (c > p) for p, c in pairs)
    return wins / len(pairs)


def main():
    ap = argparse.ArgumentParser(description="compare parent and change runs")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.benchmark) as f:
        bench = json.load(f)
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load_side(args.parent), load_side(args.change)
    workloads = sorted({r[0] for r in parent} & {r[0] for r in change})
    print(f"{'workload':12} {'metric':38} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'gain':>8} {'wins':>6}  verdict")
    for wl in workloads:
        for trace in (0, 1):
            ps = [r for r in parent if r[0] == wl and r[2] == trace]
            cs = [r for r in change if r[0] == wl and r[2] == trace]
            if not ps or not cs:
                continue
            names = [n for n in specs if n in ps[0][3] and n in cs[0][3]]
            for name in names:
                spec = specs[name]
                pv = [r[3][name]["value"] for r in ps if name in r[3]]
                cv = [r[3][name]["value"] for r in cs if name in r[3]]
                by_seed_p = {r[1]: r[3][name]["value"] for r in ps if name in r[3]}
                by_seed_c = {r[1]: r[3][name]["value"] for r in cs if name in r[3]}
                common = sorted(set(by_seed_p) & set(by_seed_c) - {None})
                pairs = ([(by_seed_p[s], by_seed_c[s]) for s in common] if common
                         else list(zip(pv, cv)))
                wins = win_fraction(pairs, spec["better"])
                v, gain = verdict(pv, cv, spec["better"], spec.get("bound"), wins)
                fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
                print(f"{wl:12} {name:38} {fmt(quartiles(pv)):>30} "
                      f"{fmt(quartiles(cv)):>30} {gain:+8.2%} {wins:6.2f}  {v}"
                      f"  (n={len(pv)}/{len(cv)}, {spec['unit']})")


if __name__ == "__main__":
    main()
