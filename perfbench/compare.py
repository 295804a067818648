#!/usr/bin/env python3
"""Compares two sets of benchmark runs by the rule of choosing-metrics §8.

    python3 perfbench/compare.py PARENT CHANGE [--json]

PARENT and CHANGE are directories of result files written by run.py (for
example copies of perfbench/results taken on each commit; subdirectories
are searched). Only untraced runs are used. Runs are paired in file-name
order, which is run order, per workload.

One row per workload and end-to-end metric (the gated ones of
BENCHMARK.json, then the wall-time ones every record also holds, judged
against the largest bound, 0.25): each side's median and quartiles, the
change's pair wins, and a verdict:

- gain:         the change wins at least 9/10 of the pairs (ties count for
                neither side) and the medians differ, in the better
                direction, by more than the parent's interquartile range;
- regressed:    the change's median is worse than the parent's by more
                than the metric's bound;
- unresolved:   either side's spread (interquartile range / median) is
                wider than the bound, unless every change run is better
                than every parent run;
- within bound: none of the above.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


UNGATED_BOUND = 0.25


def spec():
    """(name -> (better, bound, gated)) for every end-to-end metric: the
    gated ones from BENCHMARK.json, the wall-time ones a run also records
    with the largest bound BENCHMARK.json allows."""
    sys.path.insert(0, HERE)
    import metrics
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        b = json.load(f)
    out = {m["name"]: (m["better"], m["bound"], True)
           for m in b["end_to_end"]}
    for name, _ in metrics.E2E_UNGATED:
        out.setdefault(name, ("lower", UNGATED_BOUND, False))
    return out


def load(root):
    """workload -> list of e2e metric dicts, in file-name order."""
    files = []
    for d, _, fs in os.walk(root):
        files += [os.path.join(d, f) for f in fs if f.endswith(".json")]
    out = {}
    for path in sorted(files, key=os.path.basename):
        with open(path) as f:
            r = json.load(f)
        rec = r.get("record", {})
        if rec.get("trace") or "e2e" not in r:
            continue
        out.setdefault(rec["workload"], []).append(r["e2e"])
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """The §8 verdict for one metric; returns a row dict."""
    sign = 1.0 if better == "lower" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    p_spread = (p3 - p1) / pm if pm else 0.0
    c_spread = (c3 - c1) / cm if cm else 0.0
    gap = sign * (pm - cm)  # > 0: change better
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if pairs and wins >= 0.9 * len(pairs) and gap > (p3 - p1):
        v = "gain"
    elif -gap > bound * pm:
        v = "regressed"
    elif max(p_spread, c_spread) > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return {"parent_median": pm, "parent_q1": p1, "parent_q3": p3,
            "change_median": cm, "change_q1": c1, "change_q3": c3,
            "pairs": len(pairs), "wins": wins, "parent_spread": p_spread,
            "change_spread": c_spread, "bound": bound, "verdict": v}


def compare(parent, change, metrics):
    rows = []
    for w in sorted(set(parent) & set(change)):
        for name, (better, bound, gated) in metrics.items():
            p = [r[name] for r in parent[w] if name in r]
            c = [r[name] for r in change[w] if name in r]
            if p and c:
                rows.append(dict(workload=w, metric=name, gated=gated,
                                 **verdict(p, c, better, bound)))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args()
    rows = compare(load(a.parent), load(a.change), spec())
    if a.json:
        print(json.dumps(rows, indent=1))
        return
    print(f"{'workload':<12} {'metric':<14} {'parent med [q1,q3]':<32} "
          f"{'change med [q1,q3]':<32} {'wins':<7} verdict")
    for r in rows:
        p = (f"{r['parent_median']:.4g} [{r['parent_q1']:.4g},"
             f"{r['parent_q3']:.4g}]")
        c = (f"{r['change_median']:.4g} [{r['change_q1']:.4g},"
             f"{r['change_q3']:.4g}]")
        gate = "" if r["gated"] else " (ungated)"
        print(f"{r['workload']:<12} {r['metric']:<14} {p:<32} {c:<32} "
              f"{r['wins']}/{r['pairs']:<5} {r['verdict']}{gate}")
    if not rows:
        print("no workload has untraced runs on both sides", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
