"""Self-tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import copy
import json
import os
import unittest

import run
import stats

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def result(metrics, **kw):
    obj = {"correct": True, "attempted": 3, "failed": 0,
           "metrics": {n: {"value": 1.5, "unit": u} for n, u in metrics.items()}}
    obj.update(kw)
    return obj


class TailRule(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_eleven_samples_leave_ten_beyond_the_smallest(self):
        value, pct, n = stats.tail(list(range(11, 0, -1)))
        self.assertEqual((value, n), (1, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_hundred_samples_give_p90(self):
        value, pct, n = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        # exactly ten samples lie beyond the reported value
        self.assertEqual(sum(1 for i in range(1, 101) if i > value), 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class BoundCheck(unittest.TestCase):
    metrics = [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
               {"name": "rate", "unit": "1/s", "better": "higher", "bound": 0.1}]

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)

    def test_steady_and_equal_sets_pass(self):
        a = {"setup_s": [1.0, 1.01, 0.99, 1.0], "rate": [100, 101, 99, 100]}
        self.assertTrue(all(ok for ok, *_ in stats.bound_check(a, a, self.metrics).values()))

    def test_higher_is_better_regression_fails(self):
        a = {"setup_s": [1.0] * 4, "rate": [100, 101, 99, 100]}
        b = {"setup_s": [1.0] * 4, "rate": [80, 81, 79, 80]}
        ok, _, _, worse = stats.bound_check(a, b, self.metrics)["rate"]
        self.assertFalse(ok)
        self.assertAlmostEqual(worse, 0.2)

    def test_improvement_passes(self):
        a = {"setup_s": [1.0] * 4, "rate": [100, 101, 99, 100]}
        b = {"setup_s": [0.5] * 4, "rate": [120, 121, 119, 120]}
        self.assertTrue(all(ok for ok, *_ in stats.bound_check(a, b, self.metrics).values()))

    def test_wide_spread_fails_except_for_setup(self):
        wide = [1.0, 2.0, 3.0, 4.0]
        a = {"setup_s": wide, "rate": [100, 101, 99, 100]}
        self.assertTrue(stats.bound_check(a, a, self.metrics)["setup_s"][0])
        b = {"setup_s": [1.0] * 4, "rate": [50, 100, 150, 200]}
        self.assertFalse(stats.bound_check(b, b, self.metrics)["rate"][0])


class OutputSchema(unittest.TestCase):
    units = {"setup_s": "s", "rows_per_s": "rows/s"}

    def test_valid_result(self):
        stats.validate_result(result(self.units), self.units)

    def test_rejects_extra_or_missing_keys(self):
        with self.assertRaises(ValueError):
            stats.validate_result(dict(result(self.units), extra=1), self.units)
        bad = result(self.units)
        del bad["failed"]
        with self.assertRaises(ValueError):
            stats.validate_result(bad, self.units)

    def test_rejects_missing_metric_and_wrong_unit(self):
        with self.assertRaises(ValueError):
            stats.validate_result(result({"setup_s": "s"}), self.units)
        with self.assertRaises(ValueError):
            stats.validate_result(result({"setup_s": "ms", "rows_per_s": "rows/s"}), self.units)

    def test_rejects_non_numbers_and_zero_attempts(self):
        bad = result(self.units)
        bad["metrics"]["setup_s"]["value"] = None
        with self.assertRaises(ValueError):
            stats.validate_result(bad, self.units)
        with self.assertRaises(ValueError):
            stats.validate_result(result(self.units, attempted=0), self.units)
        with self.assertRaises(ValueError):
            stats.validate_result(result(self.units, correct=1), self.units)

    def test_benchmark_json_follows_the_contract(self):
        with open(SPEC_PATH) as fh:
            spec = json.load(fh)
        stats.validate_benchmark(spec)
        self.assertEqual(spec["command"], ["python3", "perfbench/run.py"])
        broken = copy.deepcopy(spec)
        broken["end_to_end"][0]["bound"] = 0.5
        with self.assertRaises(ValueError):
            stats.validate_benchmark(broken)

    def test_metric_values_cover_every_listed_metric(self):
        with open(SPEC_PATH) as fh:
            spec = json.load(fh)
        raw = {"samples": {"op_ms": [3.0, 1.0, 2.0], "read_ms": [5.0, 4.0], "bulk_ms": [900.0, 700.0, 800.0]},
               "values": {"setup_s": 2.0, "rows": 100.0, "write_s": 4.0, "heap_peak_mb": 80.0},
               "layers": {m["name"]: 1.0 for m in spec["per_layer"]
                          if m["name"] not in ("trace.op_ms_p50", "trace.rows_per_s")}}
        e2e = run.metric_values(raw, trace=0)
        self.assertEqual(set(e2e), {m["name"] for m in spec["end_to_end"]})
        self.assertEqual((e2e["op_ms_p50"], e2e["read_ms_p50"], e2e["rows_per_s"], e2e["bulk_s"]),
                         (2.0, 4.5, 25.0, 0.8))
        layers = run.metric_values(raw, trace=1)
        self.assertEqual(set(layers), {m["name"] for m in spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
