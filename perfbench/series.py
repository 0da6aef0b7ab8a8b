#!/usr/bin/env python3
"""Run a workload on several seeds and append each run's result line to a
JSONL file, then print every end-to-end metric's median, quartiles and
spread (interquartile distance as a share of the median) against its bound.

Usage: python3 perfbench/series.py --out runs.jsonl [--workloads a,b]
           [--seeds 1-10] [--seconds S] [--trace 0|1]

Defaults come from BENCHMARK.json (all workloads, its run_seconds). Feed two
such files to perfbench/compare.py to compare commits.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) with statistics.quantiles."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, ((q3 - q1) / med if med else float("inf"))


def summarize(lines, spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in sorted({l["workload"] for l in lines}):
        runs = [l for l in lines if l["workload"] == w]
        bad = [l["seed"] for l in runs if not l["result"]["correct"]]
        print(f"{w}: {len(runs)} runs, incorrect seeds: {bad or 'none'}")
        for name, bound in bounds.items():
            vals = [l["result"]["metrics"][name]["value"] for l in runs
                    if name in l["result"]["metrics"]]
            if not vals:
                continue
            med, q1, q3, sp = spread(vals)
            flag = "ok" if sp < bound / 3 else ("within bound" if sp <= bound else "TOO WIDE")
            print(f"  {name:<14} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {sp:6.1%} (bound {bound:.0%}) {flag}")


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            cmd = spec["command"] + ["--workload", w, "--seed", str(s),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1:] if p.returncode == 0 else []
            if not last:
                print(f"{w} seed {s}: failed (exit {p.returncode})", file=sys.stderr)
                continue
            line = {"workload": w, "seed": s, "trace": a.trace, "result": json.loads(last[0])}
            with open(a.out, "a") as fh:
                fh.write(json.dumps(line) + "\n")
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in line["result"]["metrics"].items()),
                file=sys.stderr)
    with open(a.out) as fh:
        summarize([json.loads(l) for l in fh if l.strip()], spec)


if __name__ == "__main__":
    main()
