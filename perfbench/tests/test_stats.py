"""Tests of the harness's percentile, failure accounting and comparison.

Run: python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import stats  # noqa: E402


def op(ms, ok=True, units=1.0, unit_ms=None):
    return {"kind": "x", "ms": ms, "ok": ok, "units": units,
            "unit_ms": ms if unit_ms is None else unit_ms, "note": ""}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 50), 50)
        self.assertEqual(stats.percentile(values, 90), 90)
        self.assertEqual(stats.percentile(values, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_p90_leaves_ten_beyond_at_one_hundred_samples(self):
        values = [float(i) for i in range(100)]
        p90 = stats.percentile(values, 90)
        self.assertEqual(sum(1 for v in values if v > p90), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartiles_match_statistics_module(self):
        values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertEqual(stats.quartiles(values), (q1, q2, q3))


class FailureAccountingTest(unittest.TestCase):
    def test_failed_op_misses_every_latency_limit(self):
        lat = stats.latencies([op(100), op(200, ok=False), op(300)])
        self.assertEqual(lat[0], 0.1)
        self.assertTrue(math.isinf(lat[1]))
        self.assertTrue(math.isinf(stats.percentile(lat, 90)))

    def test_failures_push_the_median(self):
        ok = [op(100)] * 3
        bad = [op(10, ok=False)] * 3
        self.assertTrue(math.isinf(stats.percentile(stats.latencies(ok + bad + [op(100)]), 90)))
        self.assertEqual(stats.percentile(stats.latencies(ok + [op(10, ok=False)]), 50), 0.1)

    def test_counts(self):
        self.assertEqual(stats.failure_counts([op(1), op(2, ok=False), op(3, ok=False)]), (3, 2))
        self.assertEqual(stats.failure_counts([]), (0, 0))

    def test_rate_counts_failed_time_but_not_their_work(self):
        ops = [op(1000, units=10), op(1000, ok=False, units=10)]
        self.assertEqual(stats.rate(ops), 5.0)

    def test_a_failed_latency_reads_past_any_limit(self):
        self.assertEqual(stats.finite(math.inf), stats.FAILED_LATENCY_S)
        self.assertEqual(stats.finite(math.nan), stats.FAILED_LATENCY_S)
        self.assertEqual(stats.finite(1.5), 1.5)
        slow_but_ok = [op(5000)]
        failed_fast = [op(10, ok=False)]
        self.assertGreater(stats.finite(stats.percentile(stats.latencies(failed_fast), 50)),
                           stats.finite(stats.percentile(stats.latencies(slow_but_ok), 50)))


class CompareTest(unittest.TestCase):
    spec = {"end_to_end": [
        {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "work_per_s", "unit": "1/s", "better": "higher", "bound": 0.1}]}

    @staticmethod
    def runs(workload, trace, values):
        return [{"workload": workload, "seed": i, "trace": trace,
                 "result": {"metrics": {k: {"value": v[i], "unit": "x"} for k, v in values.items()}}}
                for i in range(len(next(iter(values.values()))))]

    def test_flags_a_move_past_the_bound_in_the_worse_direction(self):
        before = self.runs("match", 0, {"op_p50_s": [1.0, 1.0, 1.0], "work_per_s": [10, 10, 10]})
        after = self.runs("match", 0, {"op_p50_s": [1.2, 1.2, 1.2], "work_per_s": [12, 12, 12]})
        rows, _ = compare.compare(before, after, self.spec)
        flags = {name: flag for _, name, _, _, _, flag in rows}
        self.assertTrue(flags["op_p50_s"])
        self.assertFalse(flags["work_per_s"])

    def test_names_the_per_layer_metric_that_moved_most(self):
        before = self.runs("surveillance", 1, {"a": [1.0, 1.0], "b": [1.0, 1.0], "sentinel.spin_pre_s": [1, 1]})
        after = self.runs("surveillance", 1, {"a": [1.1, 1.1], "b": [3.0, 3.0], "sentinel.spin_pre_s": [9, 9]})
        _, moved = compare.compare(before, after, self.spec)
        self.assertEqual(moved["surveillance"][0], "b")


if __name__ == "__main__":
    unittest.main()
