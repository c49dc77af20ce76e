"""Statistics and schema rules of the benchmark, kept free of I/O so the
self-tests in test_stats.py can check them directly."""

import math
import re
import statistics

TAIL_BEYOND = 10
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile that has at least `beyond` samples above it.

    Nearest rank: with n sorted samples the value at rank n - beyond has
    exactly `beyond` ranks above it, and it sits at percentile
    100 * (n - beyond) / n.  Returns (value, percentile, n), or None when
    there are too few samples for any percentile to qualify.
    """
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    rank = n - beyond
    return s[rank - 1], 100.0 * rank / n, n


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of statistics.quantiles(values, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def worse_by(parent, child, better):
    """How much worse `child` is than `parent`, as a share of `parent`
    (negative when it is better)."""
    if better == "lower":
        return (child - parent) / abs(parent)
    return (parent - child) / abs(parent)


def bound_check(first, second, metrics, spread_exempt=("setup_s",)):
    """The acceptance rule for two sets of runs of the same code.

    `first` and `second` map metric name -> list of values, `metrics` is the
    benchmark's end_to_end list.  A metric fails when its spread in either
    set exceeds its bound (setup_s is exempt) or when the second median is
    worse than the first by more than the bound.  Returns
    {name: (ok, spread1, spread2, worse)}.
    """
    out = {}
    for m in metrics:
        name, bound = m["name"], m["bound"]
        a, b = first[name], second[name]
        s1, s2 = spread(a), spread(b)
        worse = worse_by(median(a), median(b), m["better"])
        ok = worse <= bound
        if name not in spread_exempt:
            ok = ok and s1 <= bound and s2 <= bound
        out[name] = (ok, s1, s2, worse)
    return out


def validate_result(obj, names):
    """Raise ValueError unless `obj` is a result line whose metrics are
    exactly `names` (a dict name -> unit)."""
    if not isinstance(obj, dict) or set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result must have exactly correct, attempted, failed, metrics")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    metrics = obj["metrics"]
    if not isinstance(metrics, dict) or set(metrics) != set(names):
        missing = set(names) - set(metrics or {})
        extra = set(metrics or {}) - set(names)
        raise ValueError(f"metrics differ from the benchmark's list: missing {sorted(missing)}, "
                         f"extra {sorted(extra)}")
    for name, m in metrics.items():
        if set(m) != {"value", "unit"} or m["unit"] != names[name]:
            raise ValueError(f"metric {name} must be {{value, unit={names[name]}}}")
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v!r}")


def validate_benchmark(spec):
    """Raise ValueError unless BENCHMARK.json follows the benchmark contract."""
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        raise ValueError(f"BENCHMARK.json keys must be {sorted(keys)}")
    if not 1 <= len(spec["paths"]) <= 16:
        raise ValueError("1 to 16 paths")
    for p in spec["paths"]:
        if not re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) or p.startswith("/") or ".." in p.split("/"):
            raise ValueError(f"bad path {p!r}")
    cmd = spec["command"]
    if not 1 <= len(cmd) <= 32 or any(len(c) > 200 or c.startswith("/") or ".." in c for c in cmd):
        raise ValueError("bad command")
    if not (isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60):
        raise ValueError("run_seconds must be a whole number from 1 to 60")
    if not 2 <= len(spec["workloads"]) <= 8:
        raise ValueError("2 to 8 workloads")
    if not 1 <= len(spec["end_to_end"]) <= 16 or not 1 <= len(spec["per_layer"]) <= 128:
        raise ValueError("1-16 end_to_end and 1-128 per_layer metrics")
    seen = set()
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            raise ValueError(f"bad workload {w}")
        seen_name(w["name"], seen)
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            raise ValueError(f"bad end_to_end metric {m}")
        check_metric(m, seen)
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            raise ValueError(f"bad per_layer metric {m}")
        check_metric(m, seen)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        raise ValueError("setup_s (s, lower) is required")
    if setup[0]["bound"] < max(m["bound"] for m in spec["end_to_end"]):
        raise ValueError("setup_s must have the largest bound")


def seen_name(name, seen):
    if not NAME_RE.match(name) or name in seen:
        raise ValueError(f"bad or repeated name {name!r}")
    seen.add(name)


def check_metric(m, seen):
    seen_name(m["name"], seen)
    if not UNIT_RE.match(m["unit"]) or m["better"] not in ("lower", "higher"):
        raise ValueError(f"bad unit or direction in {m}")
