"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_eleven_samples_give_the_lowest_with_ten_beyond(self):
        value, pct = stats.tail([float(x) for x in range(1, 12)])
        self.assertEqual(value, 1.0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_hundred_samples_reach_p90_and_leave_ten_beyond(self):
        xs = [float(x) for x in range(1, 101)]
        value, pct = stats.tail(xs)
        self.assertEqual((value, pct), (90.0, 90.0))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_many_samples_are_capped_at_p90(self):
        value, pct = stats.tail([float(x) for x in range(1, 1001)])
        self.assertEqual((value, pct), (900.0, 90.0))

    def test_forty_samples_give_p75(self):
        xs = [float(x) for x in range(40, 0, -1)]
        value, pct = stats.tail(xs)
        self.assertEqual((value, pct), (30.0, 75.0))
        self.assertEqual(sum(1 for x in xs if x > value), 10)


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)

    def test_a_win_on_the_longest_query_cannot_hide_losses_on_the_rest(self):
        base = [10.0, 1.0, 1.0, 1.0]
        mixed = [5.0, 1.3, 1.3, 1.3]
        self.assertLess(sum(mixed), sum(base))
        self.assertGreater(stats.geomean(mixed), stats.geomean(base))
        self.assertAlmostEqual(stats.geomean(mixed), (5.0 * 1.3 ** 3) ** 0.25)

    def test_rejects_zero(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_ignores_empty(self):
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_only_is_wall_minus_clipped_union(self):
        # jobs overlap each other and stick out of the window on both sides
        jobs = [(-5, 2), (1, 4), (8, 20)]
        self.assertEqual(stats.driver_only(0, 10, jobs), 10 - (4 + 2))

    def test_driver_only_without_jobs_is_wall(self):
        self.assertEqual(stats.driver_only(3, 7.5, []), 4.5)


class Growth(unittest.TestCase):
    def test_flat_is_one(self):
        self.assertEqual(stats.growth([2.0] * 16), 1.0)

    def test_quarters(self):
        # quarters of 8: [0,1] [2,3] [4,5] [6,7]; second quarter median 2.5,
        # last quarter median 6.5
        self.assertAlmostEqual(stats.growth([0, 1, 2, 3, 4, 5, 6, 7]), 6.5 / 2.5)

    def test_uneven_length(self):
        # n=10: second quarter xs[2:5], last quarter xs[7:]
        xs = [9, 9, 1, 2, 3, 9, 9, 4, 6, 8]
        self.assertAlmostEqual(stats.growth(xs), 6 / 2)

    def test_first_quarter_warm_up_is_ignored(self):
        self.assertEqual(stats.growth([100.0, 1.0, 1.0, 1.0]), 1.0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 0, "parent": -1, "start_ms": 0.0, "end_ms": 10.0},
            {"id": 1, "parent": 0, "start_ms": 1.0, "end_ms": 4.0},
            {"id": 2, "parent": 0, "start_ms": 3.0, "end_ms": 6.0},
            {"id": 3, "parent": 1, "start_ms": 1.0, "end_ms": 2.0},
        ]
        self.assertEqual(stats.self_times(spans), [5.0, 2.0, 3.0, 1.0])


class Summary(unittest.TestCase):
    def test_summary_matches_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        import statistics
        q1, _, q3 = statistics.quantiles(xs, n=4)
        s = stats.summary(xs)
        self.assertEqual((s["q1"], s["q3"], s["n"]), (q1, q3, 10))
        self.assertEqual(s["median"], statistics.median(xs))
        self.assertTrue(math.isclose(s["spread"], (q3 - q1) / statistics.median(xs)))


class TracingOverhead(unittest.TestCase):
    def test_each_traced_pass_is_paired_with_its_neighbours(self):
        # drift from 10 to 14 s: the traced passes are 10 % over their neighbours
        walls = [10.0, 12.1, 12.0, 14.3, 14.0]
        traced = [False, True, False, True, False]
        self.assertTrue(math.isclose(stats.paired_overhead(walls, traced), 0.1))

    def test_median_over_traced_passes(self):
        walls = [10.0, 10.0, 10.0, 12.0, 10.0, 11.0, 10.0]
        traced = [False, True, False, True, False, True, False]
        self.assertTrue(math.isclose(stats.paired_overhead(walls, traced), 0.1))

    def test_traced_pass_at_an_end_is_rejected(self):
        with self.assertRaises(ValueError):
            stats.paired_overhead([10.0, 11.0], [False, True])


if __name__ == "__main__":
    unittest.main()
