"""Checks of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 50), 50)
        self.assertEqual(stats.nearest_rank(xs, 90), 90)
        self.assertEqual(stats.nearest_rank(xs, 100), 100)
        self.assertEqual(stats.nearest_rank([7.0], 90), 7.0)
        self.assertEqual(stats.nearest_rank([3, 1, 2], 50), 2)

    def test_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertIsNone(stats.supported_percentile(list(range(99)), 90))
        self.assertEqual(stats.supported_percentile(list(range(1, 101)), 90), 90)
        # p50 needs only 20 samples
        self.assertIsNone(stats.supported_percentile(list(range(19)), 50))
        self.assertIsNotNone(stats.supported_percentile(list(range(20)), 50))

    def test_beyond_counts_larger_samples(self):
        for n in range(1, 300):
            xs = list(range(n))
            p90 = stats.nearest_rank(xs, 90)
            self.assertEqual(sum(1 for x in xs if x > p90), stats.beyond(n, 90))


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.5, 0.5, 0.5]), 0.5)
        # doubling one of n operations moves it by 2^(1/n)
        self.assertAlmostEqual(stats.geomean([2.0, 1.0, 1.0, 1.0]) / stats.geomean([1.0] * 4),
                               2 ** 0.25)


class Spread(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        xs = list(range(1, 11))
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 5.5)
        self.assertAlmostEqual(stats.spread(xs), 1.0)

    def test_constant_runs_have_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_order_does_not_matter(self):
        xs = [1.3, 1.1, 1.2, 1.25, 1.15, 1.4, 1.05, 1.22, 1.18, 1.3]
        self.assertAlmostEqual(stats.spread(xs), stats.spread(sorted(xs)))


class LayerSplit(unittest.TestCase):
    def test_worked_example(self):
        # compose [0,40] runs one job; the action [40,100] plans, runs a
        # job that overlaps the end of planning, then plans a subquery
        split = stats.layer_split([0, 100], 40, [[10, 20], [50, 70]], [[45, 55], [80, 85]])
        self.assertEqual(split, {"exec": 30, "plans": 10, "compose": 30,
                                 "driver": 30, "unattributed": 0})

    def test_children_outside_the_op_are_clipped(self):
        split = stats.layer_split([10, 20], 15, [[0, 12], [18, 30]], [[5, 11]])
        self.assertEqual(split["exec"], 4)
        self.assertEqual(split["plans"], 0)
        self.assertEqual(split["compose"], 3)
        self.assertEqual(split["driver"], 3)

    def test_overlapping_jobs_count_once(self):
        split = stats.layer_split([0, 10], 0, [[1, 5], [2, 6], [8, 9]], [])
        self.assertEqual(split["exec"], 6)
        self.assertEqual(split["driver"], 4)

    def test_parts_sum_to_the_wall(self):
        rng = random.Random(7)
        for _ in range(500):
            s = rng.uniform(0, 100)
            e = s + rng.uniform(0, 100)
            ce = rng.uniform(s, e)

            def ivs():
                out = []
                for _ in range(rng.randrange(6)):
                    a = rng.uniform(s - 20, e + 20)
                    out.append([a, a + rng.uniform(0, 30)])
                return out
            split = stats.layer_split([s, e], ce, ivs(), ivs())
            self.assertAlmostEqual(sum(split.values()), e - s, places=9)
            self.assertAlmostEqual(split["unattributed"], 0.0, places=9)
            for k, v in split.items():
                self.assertGreaterEqual(v, -1e-9, k)

    def test_pass_gap_is_the_loop_outside_every_op(self):
        self.assertEqual(stats.unattributed_gap(0, 100, [[0, 30], [32, 90]]), 12)


class Owner(unittest.TestCase):
    def test_each_time_has_one_owner(self):
        # back-to-back operations: a listener time near the boundary
        # belongs to exactly one of them
        ops = [[0.0, 100.2], [100.3, 180.0]]
        self.assertEqual(stats.owner(100, ops), 1)  # [100, 101) is mostly the second op
        self.assertEqual(stats.owner(99, ops), 0)
        self.assertEqual(stats.owner(50, ops), 0)
        self.assertEqual(stats.owner(179.5, ops), 1)

    def test_outside_every_window(self):
        self.assertIsNone(stats.owner(300, [[0, 10], [10, 20]]))
        self.assertIsNone(stats.owner(5, []))

    def test_tie_goes_to_the_earlier_window(self):
        self.assertEqual(stats.owner(10, [[0, 10.5], [10.5, 20]]), 0)

    def test_never_counted_twice(self):
        rng = random.Random(3)
        for _ in range(200):
            cuts = sorted(rng.uniform(0, 100) for _ in range(6))
            ops = [[a, b] for a, b in zip(cuts, cuts[1:])]
            for t in range(0, 100):
                i = stats.owner(t, ops)
                holders = [k for k, (a, b) in enumerate(ops) if a < t + 1 and b > t]
                if holders:
                    self.assertIn(i, holders)
                else:
                    self.assertIsNone(i)


if __name__ == "__main__":
    unittest.main()
