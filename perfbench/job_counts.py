#!/usr/bin/env python3
"""Write the job-count snapshot from traced runs.

Reads every `.bench_build/perfbench/artifacts/<workload>_seed<n>_trace.json`
that traced runs (`run.py --trace 1`) left behind and writes
`perfbench/job_counts.tsv`: Spark jobs per poll and per panel, per pass and
per query, per batch and per view refresh, keyed by workload and name (the
median over the seeds found). Counts repeat exactly between runs of one
commit, so a change in the snapshot pins which query or panel gained jobs.

Usage: python3 perfbench/job_counts.py
"""
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
ART = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "artifacts")


def main():
    counts = {}
    for path in sorted(glob.glob(os.path.join(ART, "*_trace.json"))):
        with open(path) as fh:
            t = json.load(fh)
        for key, n in t["job_counts"].items():
            counts.setdefault((t["workload"], key), []).append(n)
    if not counts:
        raise SystemExit(f"no trace artifacts under {ART}; run with --trace 1 first")
    out = os.path.join(HERE, "job_counts.tsv")
    with open(out, "w") as fh:
        fh.write("# workload\tkey\tjobs (median over traced seeds)\n")
        for (w, key), ns in sorted(counts.items()):
            fh.write(f"{w}\t{key}\t{statistics.median(ns):g}\n")
    print(f"wrote {len(counts)} rows to {out}")


if __name__ == "__main__":
    main()
