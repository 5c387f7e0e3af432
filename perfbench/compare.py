#!/usr/bin/env python3
"""Compare two sets of benchmark results: a parent and a change.

    python3 perfbench/compare.py PARENT CHANGE [--detail]

PARENT and CHANGE are directories (or single files) of result files written
by run.py with --trace 0. Runs are paired in the order they ran (run the two
sides alternately). For each workload and end-to-end metric it prints each
side's median and quartiles, the change in the median, the share of pairs
the change won (ties count for neither side) and a verdict against the
metric's bound in BENCHMARK.json:

  regressed   the change's median is worse by more than the bound
  improved    the change won at least 9 in 10 pairs and its median is better
              by more than the parent's own quartile distance
  unresolved  a side's spread (quartile distance over median) exceeds the
              bound, unless every change run beats, or loses to, every parent run
  unchanged   otherwise

Two result sets of the same commit (an A/A comparison) should come out
unchanged on every metric; that is the check that the bounds hold.

--detail also prints the medians of the per-call metrics in each result's
detail section (latency per call type, write_amp, docs_per_s, ...).
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        f for f in glob.glob(os.path.join(path, "*.json")))
    runs = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("args", {}).get("trace", 0) == 0 and "metrics" in rec:
            runs.append((os.path.getmtime(f), rec))
    by_workload = {}
    for _, rec in sorted(runs, key=lambda x: x[0]):
        by_workload.setdefault(rec["args"]["workload"], []).append(rec)
    return by_workload


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(par, chg, better, bound):
    """Verdict for one metric; `par`/`chg` are per-run values in run order."""
    sign = 1 if better == "lower" else -1
    p1, pm, p3 = quartiles(par)
    c1, cm, c3 = quartiles(chg)
    worse = sign * (cm - pm) / pm
    pairs = list(zip(par, chg))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    won = wins / len(pairs) if pairs else 0.0
    spread = max((p3 - p1) / pm, (c3 - c1) / cm)
    all_better = all(sign * (c - p) < 0 for c in chg for p in par)
    all_worse = all(sign * (c - p) > 0 for c in chg for p in par)
    if worse > bound and (spread <= bound or all_worse):
        v = "regressed"
    elif spread > bound:
        v = "improved" if all_better else "regressed" if all_worse else "unresolved"
    elif won >= 0.9 and -worse * pm > (p3 - p1):
        v = "improved"
    else:
        v = "unchanged"
    return (p1, pm, p3), (c1, cm, c3), worse, won, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--detail", action="store_true")
    args = ap.parse_args()
    with open(BENCH) as fh:
        bench = json.load(fh)
    par, chg = load(args.parent), load(args.change)
    if not par or not chg:
        sys.exit("no untraced result files on one side")
    print(f"{'workload':<8} {'metric':<16} {'parent median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'worse':>8} {'won':>5}  verdict")
    for w in sorted(set(par) & set(chg)):
        for m in bench["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in par[w] if m["name"] in r["metrics"]]
            ys = [r["metrics"][m["name"]]["value"] for r in chg[w] if m["name"] in r["metrics"]]
            if not xs or not ys:
                continue
            p, c, worse, won, v = verdict(xs, ys, m["better"], m["bound"])
            print(f"{w:<8} {m['name']:<16} {p[1]:>12.4g} [{p[0]:.4g}, {p[2]:.4g}]".ljust(56)
                  + f" {c[1]:>12.4g} [{c[0]:.4g}, {c[2]:.4g}]".ljust(31)
                  + f" {worse:>+7.1%} {won:>5.0%}  {v}  (n={len(xs)}/{len(ys)}, {m['unit']})")
        if args.detail:
            names = [k for k, x in chg[w][0]["detail"].items() if isinstance(x, dict)]
            for k in names:
                xs = [r["detail"][k]["value"] for r in par[w] if isinstance(r["detail"].get(k), dict)]
                ys = [r["detail"][k]["value"] for r in chg[w] if isinstance(r["detail"].get(k), dict)]
                if xs and ys:
                    print(f"{w:<8}   {k:<30} {statistics.median(xs):>12.4g} "
                          f"{statistics.median(ys):>12.4g} {chg[w][0]['detail'][k]['unit']}")


if __name__ == "__main__":
    main()
