#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program's sources
together with the benchmark (build.py); later runs reuse the classes while
the sources are unchanged. Every metric named in
BENCHMARK.json is printed: a report line with each workload's own metric
names comes first, and the last line of standard output is the result
object {"correct", "attempted", "failed", "metrics"}.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = build.STATE
FIXTURES = os.path.join(HERE, "fixtures", "sf0.001")
COUNTS = os.path.join(HERE, "fixtures", "row_counts.json")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def heap_mb():
    """A quarter of physical memory, between 1 and 3 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return max(1024, min(3072, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 2048


def run_jvm(classpath, args, work, out):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{heap_mb()}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false", "-Xlog:cds=off"]
    # The workload's first run records the classes it loads in a class-data
    # archive; later runs map it instead of loading Spark's classes from
    # ~290 jars again, which halves JVM and Spark start-up. It changes class
    # loading only, not JIT compilation or any measured call.
    jsa = os.path.join(STATE, f"{args.workload}.jsa")
    cmd.append(f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else f"-XX:ArchiveClassesAtExit={jsa}.new")
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out,
            "--fixtures", FIXTURES, "--counts", COUNTS]
    # the JVM's own output goes to stderr: stdout carries only our lines
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
        # only an archive from a run that ended well is kept
        if code == 0 and os.path.exists(jsa + ".new"):
            os.replace(jsa + ".new", jsa)
        return code
    except subprocess.TimeoutExpired:
        log(f"perfbench: run exceeded {RUN_TIMEOUT_S}s, stopping it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def metric_values(raw, trace):
    """Every metric of the run, by BENCHMARK.json name."""
    s, v = raw["samples"], raw["values"]
    e2e = {
        "setup_s": v["setup_s"],
        "rows_per_s": v["rows"] / v["write_s"],
        "op_ms_p50": stats.median(s["op_ms"]),
        "read_ms_p50": stats.median(s["read_ms"]),
        "bulk_s": stats.median(s["bulk_ms"]) / 1000,
        "heap_peak_mb": v["heap_peak_mb"],
    }
    if not trace:
        return e2e
    layers = dict(raw["layers"])
    layers["trace.op_ms_p50"] = e2e["op_ms_p50"]
    layers["trace.rows_per_s"] = e2e["rows_per_s"]
    return layers


def report(raw):
    """The workload's own metric names (README.md maps them to the
    BENCHMARK.json names), with units and tail sample counts."""
    s, v, w = raw["samples"], raw["values"], raw["workload"]
    out = {"setup_s": (v["setup_s"], "s"), "heap_peak_mb": (v["heap_peak_mb"], "MB"),
           "error_rate": (v.get("failed_ops", 0) / raw["attempted"], "ratio")}
    tails = {}

    def lat(name, key):
        out[f"{name}_p50"] = (stats.median(s[key]), "ms")
        t = stats.tail(s[key])
        if t is not None:
            out[f"{name}_tail"] = (t[0], "ms")
            tails[f"{name}_tail"] = {"percentile": round(t[1], 2), "samples": t[2]}

    rate = v["rows"] / v["write_s"]
    out["bytes_per_seq"] = (v["bytes_per_seq"], "B")
    if w == "cluster_query":
        out["cluster_seq_per_s"] = (rate, "seq/s")
        lat("cluster_ms", "op_ms")
        lat("lookup_ms", "read_ms")
        out["suite_s"] = (stats.median(s["bulk_ms"]) / 1000, "s")
        lat("query_ms", "query_ms")
    else:
        out["merge_rows_per_s"] = (v["merge_rows"] / v["merge_s"], "rows/s")
        lat("merge_batch_ms", "op_ms")
        lat("lookup_ms", "read_ms")
        out["stream_rows_per_s"] = (rate, "rows/s")
        lat("trigger_ms", "trigger_ms")
        out["mor_scan_s"] = (stats.median(s["scan_ms"]) / 1000, "s")
        out["retire_deletes_s"] = (stats.median(s["retire_ms"]) / 1000, "s")
    return {"workload": w, "seed": raw["seed"], "cores": raw["cores"],
            "report": {k: {"value": x, "unit": u} for k, (x, u) in out.items()},
            "tails": tails, "checks": raw["checks"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    stats.validate_benchmark(spec)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}

    classpath = build.build()
    work = os.path.join(STATE, f"work-{args.workload}")
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-{args.seed}-t{args.trace}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(out):
        os.remove(out)
    t0 = time.time()
    try:
        code = run_jvm(classpath, args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: workload run failed (exit {code})")
    log(f"perfbench: {args.workload} ran in {time.time() - t0:.1f}s")
    with open(out) as fh:
        raw = json.load(fh)

    values = metric_values(raw, args.trace)
    result = {
        "correct": bool(raw["correct"]),
        "attempted": int(raw["attempted"]),
        "failed": int(raw["values"].get("failed_ops", 0)),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items() if n in values},
    }
    print(json.dumps(report(raw)), flush=True)
    stats.validate_result(result, units)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
