#!/usr/bin/env python3
"""Self-time reducer for a traced run's span dump.

Each span line of `spans.jsonl` has an id, a parent id (0 = root), a name, a
layer and start/end milliseconds. A span's self time is its wall time minus
the wall time of its direct children (clipped at zero: a job's stages may
overlap). The table gives, per layer, the summed self time, the span count and
the share of the traced window's wall time.

Usage: python3 perfbench/selftime.py <spans.jsonl>
"""
import json
import sys

# cycle (pass / micro-batch / refresh) -> op (query / view refresh / panel)
# -> build | plan | exec (-> fetch) -> job -> stage; sweep sits under a pass.
# The layers the timed cycles of both workloads have:
LAYERS = ("cycle", "op", "build", "plan", "exec", "sweep", "job", "stage")


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def reduce(spans):
    """{layer: {"self_s", "count", "share"}} over the given spans."""
    if not spans:
        return {}
    child_ms = {}
    for s in spans:
        if s["parent"]:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
    wall_ms = max(s["end_ms"] for s in spans) - min(s["start_ms"] for s in spans)
    table = {}
    for s in spans:
        own = max(0.0, s["end_ms"] - s["start_ms"] - child_ms.get(s["id"], 0.0))
        row = table.setdefault(s["layer"], {"self_s": 0.0, "count": 0})
        row["self_s"] += own / 1000.0
        row["count"] += 1
    for row in table.values():
        row["share"] = row["self_s"] * 1000.0 / wall_ms if wall_ms > 0 else 0.0
    return table


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    table = reduce(load(sys.argv[1]))
    print(f"{'layer':<8} {'self_s':>10} {'count':>8} {'share':>7}")
    for layer in sorted(table, key=lambda k: -table[k]["self_s"]):
        row = table[layer]
        print(f"{layer:<8} {row['self_s']:>10.3f} {row['count']:>8d} {row['share']:>7.1%}")


if __name__ == "__main__":
    main()
