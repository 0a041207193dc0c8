"""Self-tests of the benchmark's statistics.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.quantile([3, 1, 2], 0.5), 2)
        self.assertEqual(stats.quantile([4, 1, 3, 2], 0.5), 2.5)

    def test_matches_statistics_median(self):
        xs = [0.31, 0.27, 0.44, 0.29, 0.35, 0.52, 0.30]
        self.assertAlmostEqual(stats.quantile(xs, 0.5), statistics.median(xs))

    def test_interpolates_between_ranks(self):
        # numpy's default rule: position q * (n - 1)
        self.assertAlmostEqual(stats.quantile([10, 20, 30, 40, 50], 0.9), 46.0)
        self.assertEqual(stats.quantile([7], 0.9), 7)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.quantile([], 0.5)
        with self.assertRaises(ValueError):
            stats.quantile([1], 1.5)


class PercentileTest(unittest.TestCase):
    def test_carries_count_and_tail(self):
        xs = list(range(1, 101))
        p = stats.percentile(xs, 90)
        self.assertAlmostEqual(p["value"], 90.1)
        self.assertEqual(p["n"], 100)
        self.assertEqual(p["beyond"], 10)

    def test_p50_of_ties(self):
        p = stats.percentile([2, 2, 2, 2], 50)
        self.assertEqual((p["value"], p["n"], p["beyond"]), (2, 4, 0))


class RatioTest(unittest.TestCase):
    def test_ratio_keeps_base(self):
        self.assertEqual(stats.ratio(3, 4), {"value": 0.75, "num": 3, "base": 4})

    def test_zero_base_has_no_value(self):
        self.assertIsNone(stats.ratio(5, 0)["value"])

    def test_failure_share(self):
        self.assertEqual(stats.failure_share(1, 22)["base"], 22)
        self.assertAlmostEqual(stats.failure_share(1, 22)["value"], 1 / 22)
        self.assertEqual(stats.failure_share(0, 1)["value"], 0)
        with self.assertRaises(ValueError):
            stats.failure_share(0, 0)
        with self.assertRaises(ValueError):
            stats.failure_share(3, 2)


class WarmDriftTest(unittest.TestCase):
    def ops(self, times, kinds=None):
        kinds = kinds or ["a"] * len(times)
        return [{"kind": k, "s": t} for k, t in zip(kinds, times)]

    def test_flat_window_is_one(self):
        self.assertEqual(stats.warm_drift(self.ops([1.0] * 8))["value"], 1.0)

    def test_speeding_up_window_is_above_one(self):
        d = stats.warm_drift(self.ops([2.0, 2.0, 1.5, 1.2, 1.0, 1.0, 1.0, 1.0]))
        self.assertAlmostEqual(d["value"], 2.0)

    def test_mix_normalized_per_kind(self):
        # a slow and a fast kind alternating, neither drifting: flat
        kinds = ["slow", "fast"] * 4
        times = [5.0, 0.5] * 4
        self.assertEqual(stats.warm_drift(self.ops(times, kinds))["value"], 1.0)

    def test_short_window_is_neutral(self):
        self.assertEqual(stats.warm_drift(self.ops([1.0, 2.0]))["value"], 1.0)


class MeanPerOpTest(unittest.TestCase):
    def test_missing_field_counts_zero(self):
        self.assertEqual(stats.mean_per_op([{"x": 2}, {}], "x"), 1.0)
        self.assertEqual(stats.mean_per_op([], "x"), 0.0)


if __name__ == "__main__":
    unittest.main()
