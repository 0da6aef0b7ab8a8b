#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by
workload.

Usage: python3 perfbench/compare.py <base.jsonl> <change.jsonl>

Each file holds one run per line as perfbench/series.py writes them. For each
end-to-end metric of BENCHMARK.json and each workload, prints both sides'
median and quartiles and a verdict:

  better        every change run beats every base run
  within bound  the change median is no worse than the base median by more
                than the metric's bound
  worse         it is worse by more than the bound
  unresolved    the base runs' own spread (interquartile distance over the
                median) is wider than the bound, so the runs cannot tell
"""
import json
import sys

from series import load_spec, spread


def load(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def verdict(base, change, better, bound):
    sign = 1 if better == "lower" else -1
    if all(sign * c < sign * b for c in change for b in base):
        return "better"
    bmed, _, _, bsp = spread(base)
    cmed, _, _, _ = spread(change)
    if bsp > bound:
        return "unresolved"
    worse_by = sign * (cmed - bmed) / bmed if bmed else 0.0
    return "worse" if worse_by > bound else "within bound"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = load_spec()
    base, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<16}{'metric':<14}{'base median [q1, q3]':>34}"
          f"{'change median [q1, q3]':>34}{'delta':>8}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["end_to_end"]:
            def vals(runs):
                return [r["result"]["metrics"][m["name"]]["value"] for r in runs
                        if r["workload"] == w and r.get("trace", 0) == 0
                        and m["name"] in r["result"]["metrics"]]
            b, c = vals(base), vals(change)
            if not b or not c:
                continue
            bm, bq1, bq3, _ = spread(b)
            cm, cq1, cq3, _ = spread(c)
            delta = (cm - bm) / bm if bm else 0.0
            print(f"{w:<16}{m['name']:<14}"
                  f"{bm:>12.4f} [{bq1:>8.4f}, {bq3:>8.4f}]"
                  f"{cm:>12.4f} [{cq1:>8.4f}, {cq3:>8.4f}]"
                  f"{delta:>+8.1%}  {verdict(b, c, m['better'], m['bound'])}")


if __name__ == "__main__":
    main()
