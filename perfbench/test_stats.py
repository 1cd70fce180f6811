"""Tests of the benchmark's statistics: python3 -m unittest test_stats"""
import unittest

from stats import median, percentile, warm_passes


class StatsTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([7.5]), 7.5)
        self.assertRaises(ValueError, median, [])

    def test_nearest_rank_percentile(self):
        v = list(range(1, 101))  # 1..100
        self.assertEqual(percentile(v, 50), 50)
        self.assertEqual(percentile(v, 90), 90)
        self.assertEqual(percentile(v, 100), 100)
        # 10 samples: p90 is the 9th smallest, never interpolated
        self.assertEqual(percentile([10, 1, 9, 2, 8, 3, 7, 4, 6, 5], 90), 9)
        self.assertEqual(percentile([5.0, 1.0, 3.0], 50), 3.0)
        self.assertEqual(percentile([2.0], 90), 2.0)
        self.assertRaises(ValueError, percentile, [], 50)
        self.assertRaises(ValueError, percentile, [1], 0)

    def test_warm_passes_skip_cold_and_warmup(self):
        passes = [{"index": i, "wall": w} for i, w in enumerate([9, 5, 4, 3, 3])]
        self.assertEqual([p["index"] for p in warm_passes(passes, 2)], [3, 4])
        self.assertEqual([p["index"] for p in warm_passes(passes, 0)], [1, 2, 3, 4])
        self.assertRaises(ValueError, warm_passes, passes[:3], 2)


if __name__ == "__main__":
    unittest.main()
