import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_no_tail_below_twenty_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        # p50 of 1..20 is the 10th sample, with ten beyond it
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10))

    def test_highest_step_with_ten_beyond(self):
        xs = list(range(1, 101))
        # p90 leaves exactly ten samples beyond; p95 leaves five
        self.assertEqual(stats.tail(xs), (90.0, 90))
        self.assertEqual(stats.beyond(100, 95.0), 5)
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 8
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_percentile_nearest_rank(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 75), 3)
        self.assertEqual(stats.percentile([7], 99.9), 7)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_describe_prints_sample_counts(self):
        line = stats.describe("lag", "s", [float(x) for x in range(1, 101)])
        self.assertIn("(n=100)", line)
        self.assertIn("tail p90=90 s (10 beyond)", line)
        self.assertIn("tail: none", stats.describe("lag", "s", [1.0, 2.0]))
        self.assertIn("no samples", stats.describe("lag", "s", []))


if __name__ == "__main__":
    unittest.main()
