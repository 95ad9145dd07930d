import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(range(1, 20)))  # 19: p50 has 9 beyond
        pct, v, n = stats.tail(range(1, 21))
        self.assertEqual((pct, n), (50.0, 20))
        self.assertAlmostEqual(v, 10.5)

    def test_picks_highest_percentile_supported(self):
        self.assertEqual(stats.tail(range(1, 41))[0], 75.0)
        self.assertEqual(stats.tail(range(1, 101))[0], 90.0)
        self.assertEqual(stats.tail(range(1, 1001))[0], 99.0)
        self.assertAlmostEqual(stats.tail(range(1, 101))[1], 90.5, places=6)

    def test_ties_do_not_count_as_beyond(self):
        # 30 equal values then 9 larger: p50 sits in the tie, 9 beyond.
        self.assertIsNone(stats.tail([1.0] * 30 + [2.0] * 9))
        self.assertEqual(stats.tail([1.0] * 30 + [2.0] * 10)[0], 75.0)


class QuantileTest(unittest.TestCase):
    def test_beta_cdf(self):
        self.assertAlmostEqual(stats.beta_cdf(0.5, 3, 3), 0.5)
        self.assertAlmostEqual(stats.beta_cdf(0.3, 2, 5), 0.579825)

    def test_harrell_davis_on_uniform_grid(self):
        self.assertAlmostEqual(stats.quantile(range(1, 101), 50), 50.5)
        self.assertAlmostEqual(stats.quantile([4.0] * 7, 75), 4.0)

    def test_smooth_across_a_gap(self):
        # Two clusters: the order-statistic median jumps between them when
        # one sample moves; the estimate moves a little.
        low, high = [1.0] * 10, [2.0] * 10
        a = stats.quantile(low + [1.0] + high, 50)
        b = stats.quantile(low + [2.0] + high, 50)
        self.assertLess(abs(a - b), 0.35)
        self.assertEqual(stats.median(low + [1.0] + high), 1.0)
        self.assertEqual(stats.median(low + [2.0] + high), 2.0)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                         (2.75, 5.5, 8.25))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               5.5 / 5.5)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class NineOfTenTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_clear_win(self):
        change = [p - 1.0 for p in self.parent]
        self.assertTrue(stats.wins_9_of_10(self.parent, change))

    def test_eight_wins_is_not_enough(self):
        change = [p - 1.0 for p in self.parent]
        change[0] = self.parent[0] + 1.0
        change[1] = self.parent[1] + 1.0
        self.assertFalse(stats.wins_9_of_10(self.parent, change))

    def test_ties_count_for_neither(self):
        change = [p - 1.0 for p in self.parent]
        change[0] = self.parent[0]
        self.assertTrue(stats.wins_9_of_10(self.parent, change))
        change[1] = self.parent[1]
        self.assertFalse(stats.wins_9_of_10(self.parent, change))

    def test_gap_must_exceed_parent_spread(self):
        change = [p - 0.01 for p in self.parent]
        self.assertFalse(stats.wins_9_of_10(self.parent, change))

    def test_higher_is_better(self):
        change = [p + 1.0 for p in self.parent]
        self.assertTrue(stats.wins_9_of_10(self.parent, change, False))
        self.assertFalse(stats.wins_9_of_10(self.parent, change, True))


if __name__ == "__main__":
    unittest.main()
