"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s connbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def span(i, name, start, end, parent=-1):
    return {"id": i, "name": name, "start_ns": start * 1_000_000,
            "end_ns": end * 1_000_000, "parent": parent, "op": 0}


class TailTest(unittest.TestCase):
    def test_keeps_ten_ops_beyond(self):
        lat = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(lat)
        self.assertEqual(value, 90)
        self.assertEqual(sum(x > value for x in lat), 10)
        self.assertEqual((pct, n), (90.0, 100))

    def test_order_does_not_matter(self):
        lat = [5, 3, 9, 1, 7, 2, 8, 6, 4, 10, 11, 0]
        self.assertEqual(stats.tail(lat)[0], 1)

    def test_too_few_ops(self):
        self.assertIsNone(stats.tail(list(range(10))))
        value, pct, n = stats.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_is_duration(self):
        t = stats.self_times([span(0, "op", 0, 10)])
        self.assertEqual(t["op"], (1, 10.0, 10.0))

    def test_children_subtracted(self):
        t = stats.self_times([span(0, "op", 0, 10),
                              span(1, "plan", 1, 3, 0),
                              span(2, "exec", 4, 9, 0)])
        self.assertEqual(t["op"][2], 3.0)
        self.assertEqual(t["exec"][2], 5.0)

    def test_overlapping_children_counted_once(self):
        t = stats.self_times([span(0, "op", 0, 10),
                              span(1, "a", 2, 6, 0),
                              span(2, "b", 4, 8, 0)])
        self.assertEqual(t["op"][2], 4.0)

    def test_child_outside_parent_is_clipped(self):
        t = stats.self_times([span(0, "op", 0, 10),
                              span(1, "late", 8, 14, 0)])
        self.assertEqual(t["op"][2], 8.0)

    def test_grandchildren_only_reduce_their_parent(self):
        t = stats.self_times([span(0, "op", 0, 10),
                              span(1, "probe", 0, 6, 0),
                              span(2, "call", 1, 5, 1)])
        self.assertEqual(t["op"][2], 4.0)
        self.assertEqual(t["probe"][2], 2.0)

    def test_names_aggregate(self):
        t = stats.self_times([span(0, "op", 0, 4), span(1, "op", 10, 16)])
        self.assertEqual(t["op"], (2, 10.0, 10.0))


class VerdictTest(unittest.TestCase):
    parent = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.00]

    def test_improved(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1),
                         "improved")

    def test_improved_needs_nine_tenths_of_pairs(self):
        change = [x * 0.8 for x in self.parent]
        change[0], change[1] = 1.5, 1.5
        self.assertNotEqual(stats.verdict(self.parent, change, "lower", 0.1),
                            "improved")

    def test_improved_not_claimed_with_more_failures(self):
        change = [x * 0.8 for x in self.parent]
        self.assertNotEqual(
            stats.verdict(self.parent, change, "lower", 0.1, 0.0, 0.01),
            "improved")

    def test_higher_is_better(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "higher", 0.1),
                         "improved")
        self.assertEqual(stats.verdict(change, self.parent, "higher", 0.1),
                         "worse")

    def test_worse_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1),
                         "worse")

    def test_no_worse_within_bound(self):
        change = [x * 1.05 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1),
                         "no worse within bound")

    def test_same_runs_are_no_worse(self):
        self.assertEqual(stats.verdict(self.parent, self.parent, "lower", 0.1),
                         "no worse within bound")

    def test_wide_spread_is_unresolved(self):
        noisy = [1.0, 1.5, 0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 0.9, 1.1]
        self.assertEqual(stats.verdict(self.parent, noisy, "lower", 0.1),
                         "unresolved")

    def test_wide_spread_but_all_better_is_no_worse(self):
        noisy = [0.5, 0.9, 0.3, 0.8, 0.4, 0.7, 0.35, 0.6, 0.45, 0.95]
        parent = [1.0] * 10
        # wins every pair but the parent spread is 0, so the gain rule holds
        self.assertEqual(stats.verdict(parent, noisy, "lower", 0.1), "improved")
        self.assertEqual(
            stats.verdict(parent, [0.96, 0.5, 0.9, 0.55, 0.97, 0.6, 0.95, 0.5,
                                   0.9, 0.98], "lower", 0.1, 0.0, 0.1),
            "no worse within bound")

    def test_win_rate_ignores_ties(self):
        self.assertEqual(stats.win_rate([1, 1, 1, 1], [0.5, 1, 2, 1], "lower"),
                         0.25)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        import statistics
        v = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        self.assertEqual(stats.quartiles(v), tuple(statistics.quantiles(v, n=4)))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1.0] * 10), 0.0)
        q1, med, q3 = stats.quartiles([1.0, 2.0, 3.0, 4.0])
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0]),
                               (q3 - q1) / med)


if __name__ == "__main__":
    unittest.main()
