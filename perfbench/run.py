#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last line.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--record]

Workloads: catalog_pass, stream_ingest (see perfbench/README.md).
The script builds the engine and the JVM harness from source (perfbench/build.py),
generates the sf0.1-shaped tables once (perfbench/gen_data.py), stages the
seed's inputs, runs the workload in one JVM at local[4] and checks its outputs.
Everything it writes stays under .bench_build/perfbench in the checkout.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones (listener counts, span self times, tracing overhead).
--record rewrites the stored fingerprints (perfbench/expected/) instead of
checking them.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import selftime  # noqa: E402

CORES = 4
HEAP = "3g"
SETUP_ROUNDS = 3
RUN_LIMIT_S = 170          # the JVM is killed after this long; the run then fails
# the highest percentile with at least ten samples beyond it at 20 s runs:
# 80 landed files; 2 passes x 13 queries
TAIL_PCT = {"stream_ingest": 87, "catalog_pass": 60}
STREAM_WARMUP_S = 4       # warm-up files land for this long before the timed ones
ROWS_PER_FILE = 250
FILES_PER_SECOND = 4
SETUP_FILES = SETUP_ROUNDS


def load_metrics():
    """(end-to-end, per-layer) {name: unit} from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def median(xs):
    return percentile(xs, 50)


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default); 0.0 when empty."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def host_probe():
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    pressure = 0.0
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    pressure = float(line.split()[1].split("=")[1])
    except OSError:
        pass
    return load1, pressure


def stage_stream_inputs(data_dir, work, seed, seconds):
    """Seed-ordered 500-row slices of `events`, written as UTC-timestamped
    parquet files the generator thread later moves into the input dir."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts",
                       ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    n_slices = ev.num_rows // ROWS_PER_FILE
    order = np.random.default_rng(seed & 0xFFFFFFFF).permutation(n_slices)
    need = SETUP_FILES + int(round((STREAM_WARMUP_S + seconds) * FILES_PER_SECOND)) + 2
    if need > n_slices:
        raise SystemExit(f"--seconds {seconds} needs {need} slices, events has {n_slices}")
    staging = os.path.join(work, "staging")
    for sub in ("setup", "run"):
        os.makedirs(os.path.join(staging, sub))
    for i in range(need):
        sub, j = ("setup", i) if i < SETUP_FILES else ("run", i - SETUP_FILES)
        part = ev.slice(int(order[i]) * ROWS_PER_FILE, ROWS_PER_FILE)
        pq.write_table(part, os.path.join(staging, sub, f"{sub}_{j:05d}.parquet"))
    with open(os.path.join(staging, "ROWS"), "w") as fh:
        fh.write(str(ROWS_PER_FILE))


def java_cmd(classpath, work, argv):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"] + argv


def run_jvm(cmd, log_path, limit):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TAIL_PCT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    end_to_end, per_layer = load_metrics()
    out_root = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(out_root, exist_ok=True)
    classpath = build.build(out_root)
    data_dir = os.path.join(out_root, f"data-v{gen_data.VERSION}")
    if not os.path.exists(os.path.join(data_dir, "OK")):
        shutil.rmtree(data_dir, ignore_errors=True)
        gen_data.generate(data_dir)
        open(os.path.join(data_dir, "OK"), "w").close()

    work = os.path.join(out_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.workload == "stream_ingest":
            stage_stream_inputs(data_dir, work, a.seed, a.seconds)
        load0, psi0 = host_probe()
        argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data_dir, "--work", work,
                "--expected", os.path.join(HERE, "expected"),
                "--record", "1" if a.record else "0", "--cores", str(CORES),
                "--setup-rounds", str(SETUP_ROUNDS),
                "--warmup", str(STREAM_WARMUP_S), "--rate", str(FILES_PER_SECOND)]
        log_path = os.path.join(out_root, f"{a.workload}.log")
        code = run_jvm(java_cmd(classpath, work, argv), log_path, RUN_LIMIT_S)
        load1, psi1 = host_probe()
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            sys.exit(f"workload JVM failed (exit {code}); see {log_path}")
        with open(result_path) as fh:
            r = json.load(fh)
        if a.record:
            shutil.copy(os.path.join(work, f"{a.workload}.tsv"),
                        os.path.join(HERE, "expected", f"{a.workload}.tsv"))
        for e in r["errors"]:
            print(f"[perfbench] {e}", file=sys.stderr)

        if a.trace:
            layers = dict(r["layers"])
            end_ms = layers.get("trace.window_end_ms", float("inf"))
            spans = [s for s in selftime.load(os.path.join(work, "spans.jsonl"))
                     if s["start_ms"] <= end_ms]
            table = selftime.reduce(spans)
            cycles = max(1.0, layers.get("trace.cycles", 1.0))
            for layer in selftime.LAYERS:
                layers[f"self.{layer}_s"] = table.get(layer, {}).get("self_s", 0.0) / cycles
            layers.update({"host.load1_start": load0, "host.load1_end": load1,
                           "host.cpu_pressure_start": psi0, "host.cpu_pressure_end": psi1,
                           "error_rate": r["failed"] / max(1, r["attempted"])})
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in per_layer.items()}
            art = os.path.join(out_root, "artifacts")
            os.makedirs(art, exist_ok=True)
            stem = os.path.join(art, f"{a.workload}_seed{a.seed}")
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + "_spans.jsonl")
            with open(stem + "_trace.json", "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                           "job_counts": r["job_counts"], "self_time": table,
                           "layers": layers}, fh, indent=1, sort_keys=True)
        else:
            values = {
                "setup_s": median(r["setup_rounds_s"]),
                "cycle_p50_s": median(r["cycle_s"]),
                "item_p50_s": median(r["item_s"]),
                "item_tail_s": percentile(r["item_s"], TAIL_PCT[a.workload]),
                "rss_peak_mb": r["layers"]["rss_peak_mb"],
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}
            print(f"[perfbench] samples: cycles={len(r['cycle_s'])} items={len(r['item_s'])} "
                  f"tail=p{TAIL_PCT[a.workload]}", file=sys.stderr)
        print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                          "failed": r["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
