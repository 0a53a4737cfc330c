"""Unit tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99.9), 100)
        self.assertEqual(stats.percentile([5], 50), 5)

    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90, 100))
        # 40 samples: p75 leaves 10 above, p90 only 4
        self.assertEqual(stats.tail(list(range(1, 41))), (30, 75, 40))
        # 1000 samples: p99 leaves 10 above, p99.9 only 1
        self.assertEqual(stats.tail(list(range(1, 1001))), (990, 99, 1000))

    def test_few_samples_fall_back_to_median(self):
        xs = [0.9, 1.1, 1.0, 5.0, 1.2]
        self.assertEqual(stats.tail(xs), (1.1, 50, 5))
        self.assertGreaterEqual(stats.tail(list(range(12)))[0], stats.median(list(range(12))))

    def test_order_does_not_matter(self):
        xs = [float(i * 37 % 101) for i in range(101)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class FailureRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failure_ratio(0, 10), 0.0)
        self.assertEqual(stats.failure_ratio(1, 4), 0.25)

    def test_no_ops_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failure_ratio(0, 0)


class UnionLengthTest(unittest.TestCase):
    def test_disjoint_nested_and_overlapping(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (20, 25)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (2, 5)]), 10)
        self.assertEqual(stats.union_length([(5, 15), (0, 10), (14, 20)]), 20)

    def test_touching_and_empty_intervals(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 9)]), 9)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)

    def test_driver_gap_is_wall_minus_union(self):
        # two concurrent jobs inside a 1 s op: 300 ms of the op had no job
        jobs_ms = [(100, 600), (400, 800)]
        self.assertAlmostEqual(1.0 - stats.union_length(jobs_ms) / 1e3, 0.3)


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        xs = [9, 10, 10, 10, 11]
        self.assertAlmostEqual(stats.quartile_spread(xs), (10.5 - 9.5) / 10)


if __name__ == "__main__":
    unittest.main()
