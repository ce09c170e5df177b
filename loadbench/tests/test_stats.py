"""Tests of the benchmark's stats helper.

    python3 -m unittest discover -s loadbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertEqual(stats.median(xs), 4.0)
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_percentile_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: p90 has 9 beyond it
        self.assertIsNone(stats.percentile(xs, 90))
        xs = list(range(1, 101))  # 100 samples: p90 = 90, 10 beyond
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)
        self.assertIsNone(stats.percentile(list(range(1, 20)), 50))
        self.assertIsNone(stats.percentile([], 50))

    def test_drift_flags_a_level_shift(self):
        flat = [10.0 + (i % 3) for i in range(100)]
        first, last, ok = stats.drift(flat)
        self.assertTrue(ok)
        rising = [10.0] * 50 + [14.0] * 50
        self.assertEqual(stats.drift(rising), (10.0, 14.0, False))
        falling = [20.0] * 10 + [10.0] * 90  # a warm-up left in the timed phase
        self.assertFalse(stats.drift(falling)[2])

    def test_drift_needs_two_disjoint_tails(self):
        self.assertIsNone(stats.drift([1.0] * 19))
        self.assertIsNotNone(stats.drift([1.0] * 20))

    def test_summarize(self):
        s = stats.summarize([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.5)
        self.assertEqual(s["p90"], 90.0)
        self.assertFalse(s["drift_ok"])  # 1..100 rises steadily


if __name__ == "__main__":
    unittest.main()
