"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_ladder_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(125), 90.0)
        self.assertEqual(stats.tail_percentile(41), 75.0)
        self.assertEqual(stats.tail_percentile(72), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_few_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail_percentile(8), 50.0)
        xs = [3.0, 1.0, 2.0, 4.0]
        self.assertEqual(stats.tail(xs), (50.0, 2.5))

    def test_percentile_interpolates(self):
        xs = list(range(1, 102))  # 1..101
        self.assertEqual(stats.percentile(xs, 90), 91.0)
        self.assertEqual(stats.percentile(xs, 50), stats.median(xs))
        self.assertAlmostEqual(stats.percentile([0.0, 10.0], 75), 7.5)

    def test_samples_beyond_the_reported_tail(self):
        xs = [float(i) for i in range(125)]
        p, v = stats.tail(xs)
        self.assertGreaterEqual(sum(x > v for x in xs), stats.TAIL_MIN_BEYOND)


class FailedFrac(unittest.TestCase):
    def test_counts(self):
        self.assertEqual(stats.failed_frac(101, 0), 0.0)
        self.assertAlmostEqual(stats.failed_frac(48, 3), 3 / 48)
        self.assertEqual(stats.failed_frac(5, 5), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(3, 4)
        with self.assertRaises(ValueError):
            stats.failed_frac(3, -1)


if __name__ == "__main__":
    unittest.main()
