#!/usr/bin/env python3
"""Summarise one set of benchmark runs, or compare two, metric by metric
and workload by workload. A comparison follows the rule of the
choosing-metrics guide (section 8):

- at least 10 pairs of runs, the two sides alternating;
- the change wins at least 9 of 10 pairs (ties count for neither side);
- the medians differ by more than the parent's own spread (the distance
  between its first and third quartile).

A metric whose run-to-run spread exceeds its bound in BENCHMARK.json is
"unresolved" unless every change run reads better than every parent run.
A change whose median is worse than the parent's by more than the bound
is a "regression".

    python3 perfbench/compare.py RUNS            # run-to-run quartiles
    python3 perfbench/compare.py PARENT CHANGE   # verdict per metric

RUNS, PARENT and CHANGE are directories (or lists separated by commas) of
run artifacts written by perfbench/run.py to .perfbench/results/. A parent
run pairs with the change run of the same workload and seed, so both sides
of a pair read the same inputs; a seed run several times on one side pairs
its runs in the order they finished, and a seed only one side ran is left
out and counted.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

MIN_PAIRS = 10
WIN_SHARE = 0.9


def verdict(parent, change, better, bound):
    """Verdict for one metric on one workload. `parent` and `change` are the
    per-run values in run order; `better` is "lower" or "higher"."""
    sign = 1.0 if better == "lower" else -1.0
    n = min(len(parent), len(change))
    if n < 2:
        return {"verdict": "too few runs", "pairs": n}
    pq1, pmed, pq3 = metrics.quartiles(parent)
    cq1, cmed, cq3 = metrics.quartiles(change)
    gain = sign * (pmed - cmed)  # > 0: the change is better
    pairs = list(zip(parent[:n], change[:n]))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (p - c) < 0)
    spread = (pq3 - pq1) / pmed if pmed else float("inf")
    out = {"pairs": n, "wins": wins, "losses": losses, "parent_median": pmed,
           "change_median": cmed, "parent_q1": pq1, "parent_q3": pq3,
           "change_q1": cq1, "change_q3": cq3, "spread": spread, "bound": bound}
    every_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if n >= MIN_PAIRS and wins >= WIN_SHARE * n and gain > pq3 - pq1:
        out["verdict"] = "improved"
    elif -gain > bound * abs(pmed):
        out["verdict"] = "regression"
    elif spread > bound and not every_better:
        out["verdict"] = "unresolved"
    elif n < MIN_PAIRS:
        out["verdict"] = "too few pairs"
    else:
        out["verdict"] = "unchanged"
    return out


def load_runs(spec):
    paths = []
    for part in spec.split(","):
        paths += sorted(glob.glob(os.path.join(part, "*.json"))) if os.path.isdir(part) else [part]
    runs = []
    for p in paths:
        if p.endswith(".spans.json"):
            continue
        with open(p) as f:
            a = json.load(f)
        if "metrics" in a and not a["provenance"]["trace"]:
            runs.append(a)
    runs.sort(key=lambda a: a["finished"])
    return runs


def values(runs, workload, metric):
    return [a["metrics"][metric] for a in runs
            if a["provenance"]["workload"] == workload and metric in a["metrics"]]


def by_seed(runs, workload, metric):
    """{seed: [values in the order the runs finished]}."""
    out = {}
    for a in runs:
        if a["provenance"]["workload"] == workload and metric in a["metrics"]:
            out.setdefault(a["provenance"]["seed"], []).append(a["metrics"][metric])
    return out


def paired(parent_runs, change_runs, workload, metric):
    """(parent values, change values, unpaired runs): position i of the two
    lists holds runs of the same seed, seeds in ascending order."""
    p, c = by_seed(parent_runs, workload, metric), by_seed(change_runs, workload, metric)
    pv, cv = [], []
    for seed in sorted(set(p) & set(c)):
        k = min(len(p[seed]), len(c[seed]))
        pv += p[seed][:k]
        cv += c[seed][:k]
    total = sum(map(len, p.values())) + sum(map(len, c.values()))
    return pv, cv, total - 2 * len(pv)


def compare(parent_runs, change_runs, bench):
    """[(workload, metric, verdict dict)] for every end-to-end metric."""
    rows = []
    for w in bench["workloads"]:
        for m in bench["end_to_end"]:
            pv, cv, unpaired = paired(parent_runs, change_runs, w["name"], m["name"])
            v = verdict(pv, cv, m["better"], m["bound"])
            v["unpaired"] = unpaired
            rows.append((w["name"], m["name"], v))
    return rows


def summarise(runs, bench):
    """Run-to-run median, quartiles and spread of every end-to-end metric."""
    print(f"{'workload':20s} {'metric':12s} {'runs':>4s} {'median':>12s} {'q1':>12s} "
          f"{'q3':>12s} {'spread':>7s} {'bound':>6s}")
    for w in bench["workloads"]:
        for m in bench["end_to_end"]:
            vs = values(runs, w["name"], m["name"])
            if vs:
                q1, med, q3 = metrics.quartiles(vs)
                print(f"{w['name']:20s} {m['name']:12s} {len(vs):4d} {med:12.5g} {q1:12.5g} "
                      f"{q3:12.5g} {(q3 - q1) / med:7.3f} {m['bound']:6.2f}")


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    if len(argv) == 2:
        summarise(load_runs(argv[1]), bench)
        return 0
    rows = compare(load_runs(argv[1]), load_runs(argv[2]), bench)
    print(f"{'workload':20s} {'metric':12s} {'verdict':14s} {'pairs':>5s} {'wins':>4s} "
          f"{'parent med [q1,q3]':>32s} {'change med':>12s} {'unpaired':>8s}")
    for w, m, v in rows:
        if "parent_median" in v:
            print(f"{w:20s} {m:12s} {v['verdict']:14s} {v['pairs']:5d} {v['wins']:4d} "
                  f"{v['parent_median']:12.5g} [{v['parent_q1']:.5g},{v['parent_q3']:.5g}] "
                  f"{v['change_median']:12.5g} {v['unpaired']:8d}")
        else:
            print(f"{w:20s} {m:12s} {v['verdict']:14s} {v['pairs']:5d} {'':>50s} "
                  f"{v['unpaired']:8d}")
    return 1 if any(v["verdict"] == "regression" for _, _, v in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
