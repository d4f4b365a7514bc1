#!/usr/bin/env python3
"""Compare two benchmark result sets (as written by sweep.py).

    python3 perfbench/compare.py BASE.jsonl [NEW.jsonl] [--bench BENCHMARK.json]

For every workload and metric it prints each set's median, first and
third quartile (statistics.quantiles, n=4) and spread ((q3-q1)/median).
Only runs that finished with "correct": true enter the medians; runs
that failed or came out incorrect are counted per workload. With two
sets it prints the change of the median in the metric's "worse"
direction and flags, with the metric's bound from BENCHMARK.json:
  WORSE   the new median is worse than the base median by more than the
          bound, or the new set has more failed or incorrect runs than
          the base
  SPREAD  a set's spread exceeds the bound
Exit status is 1 if anything is flagged, else 0.
"""
import argparse
import json
import statistics
from collections import defaultdict


def load(path):
    sets = defaultdict(lambda: defaultdict(list))
    failed = defaultdict(int)
    for line in open(path):
        rec = json.loads(line)
        res = rec["result"]
        if res is None or not res.get("correct"):
            failed[rec["workload"]] += 1
            continue
        for name, m in res["metrics"].items():
            sets[rec["workload"]][name].append(m["value"])
    return sets, failed


def stats(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    spread = (q3 - q1) / med if med else 0.0
    return med, q1, q3, spread


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args()
    bench = json.load(open(a.bench))
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, base_failed = load(a.base)
    new, new_failed = load(a.new) if a.new else ({}, {})
    flagged = False
    for w in sorted(set(base) | set(new) | set(base_failed) | set(new_failed)):
        head = f"== {w}  (incorrect or failed runs: base {base_failed.get(w, 0)}"
        if a.new:
            head += f", new {new_failed.get(w, 0)})"
            if new_failed.get(w, 0) > base_failed.get(w, 0):
                head += " WORSE"
                flagged = True
        print(head + ("" if a.new else ")"))
        names = [n for n in metrics if n in base.get(w, {}) or n in new.get(w, {})]
        for n in names:
            m = metrics[n]
            bound = m.get("bound")
            row = f"  {n:34s} {m['unit']:9s}"
            sides = [("base", base.get(w, {}).get(n))] + ([("new", new.get(w, {}).get(n))] if a.new else [])
            meds = {}
            for side, vals in sides:
                if not vals:
                    row += f" | {side}: -"
                    continue
                med, q1, q3, spread = stats(vals)
                meds[side] = med
                row += f" | {side} n={len(vals)} med={med:.6g} q1={q1:.6g} q3={q3:.6g} spread={spread:.3f}"
                if bound is not None and spread > bound:
                    row += " SPREAD"
                    flagged = True
            if a.new and len(meds) == 2 and meds["base"]:
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (meds["new"] - meds["base"]) / abs(meds["base"])
                row += f" | worse_by={worse:+.3f}"
                if bound is not None and worse > bound:
                    row += " WORSE"
                    flagged = True
            print(row)
    raise SystemExit(1 if flagged else 0)


if __name__ == "__main__":
    main()
