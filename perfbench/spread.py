#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and the two-set bound check.

    python3 perfbench/spread.py run --workload <name> --seeds 1-10 [--out runs.jsonl]
    python3 perfbench/spread.py compare first.jsonl second.jsonl

`run` runs the benchmark once per seed (run_seconds from BENCHMARK.json,
tracing off), appends each result line to --out, and prints each metric's
median and quartile spread against a third of its bound, the target for a
steady benchmark. `compare` applies the acceptance rule of stats.bound_check
to two such files, per workload.
"""

import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def by_metric(rows):
    out = {}
    for r in rows:
        for name, m in r["metrics"].items():
            out.setdefault(name, []).append(m["value"])
    return out


def run(args, spec):
    rows = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, check=False)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            raise SystemExit(f"seed {seed}: run failed (exit {p.returncode})")
        result = json.loads(lines[-1])
        result["workload"], result["seed"], result["wall_s"] = args.workload, seed, time.time() - t0
        rows.append(result)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(result) + "\n")
        print(f"seed {seed}: {result['wall_s']:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    values = by_metric(rows)
    print(f"{'metric':<16}{'median':>12}{'spread':>9}{'bound/3':>9}")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        sp = stats.spread(xs)
        flag = "" if sp <= m["bound"] / 3 or m["name"] == "setup_s" else "  WIDE"
        print(f"{m['name']:<16}{stats.median(xs):>12.4g}{sp:>9.3f}{m['bound'] / 3:>9.3f}{flag}")
    walls = [r["wall_s"] for r in rows]
    print(f"wall per run: median {stats.median(walls):.1f}s, max {max(walls):.1f}s")


def compare(args, spec):
    def load(path):
        out = {}
        with open(path) as fh:
            for line in fh:
                r = json.loads(line)
                out.setdefault(r["workload"], []).append(r)
        return out

    first, second = load(args.first), load(args.second)
    ok_all = True
    for w in sorted(first):
        res = stats.bound_check(by_metric(first[w]), by_metric(second[w]), spec["end_to_end"])
        for name, (ok, s1, s2, worse) in res.items():
            ok_all &= ok
            print(f"{w:<14}{name:<16}{'ok' if ok else 'FAIL':<6}spread {s1:.3f}/{s2:.3f}  "
                  f"second worse by {worse:+.3f}")
    sys.exit(0 if ok_all else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    spec = load_spec()
    (run if args.cmd == "run" else compare)(args, spec)


if __name__ == "__main__":
    main()
