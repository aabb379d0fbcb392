"""Self-tests for the benchmark's statistics.

Run from the repository root: python3 -m unittest perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        for n in (20, 37, 100, 1000):
            xs = list(range(1, n + 1))
            v, p, m = stats.tail(xs)
            self.assertEqual(m, n)
            self.assertAlmostEqual(p, 1 - 10 / n)
            self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [float((7 * i) % 23) for i in range(23)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 1.0, 3))
        self.assertEqual(stats.tail(list(range(10))), (9, 1.0, 10))
        # 11..19 samples would put the 1 - 10/n rank under the median
        self.assertEqual(stats.tail(list(range(19))), (18, 1.0, 19))

    def test_nearest_rank(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(stats.nearest_rank(xs, 0.05), 15)
        self.assertEqual(stats.nearest_rank(xs, 0.30), 20)
        self.assertEqual(stats.nearest_rank(xs, 0.40), 20)
        self.assertEqual(stats.nearest_rank(xs, 0.50), 35)
        self.assertEqual(stats.nearest_rank(xs, 1.00), 50)


class FailedFrac(unittest.TestCase):
    def test_share_of_attempted(self):
        self.assertEqual(stats.failed_frac(40, 0), 0.0)
        self.assertEqual(stats.failed_frac(40, 10), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


class SpanSelfTime(unittest.TestCase):
    def test_children_that_tile_the_span_leave_nothing(self):
        self.assertAlmostEqual(
            stats.self_time((0, 10), [(0, 2), (2, 7), (7, 10)]), 0.0)

    def test_gaps_between_children_are_self_time(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(1, 3), (6, 8)]), 6)

    def test_overlapping_children_count_once(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(1, 5), (3, 6)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_union_length(self):
        self.assertAlmostEqual(
            stats.union_length([(0, 1), (0.5, 2), (3, 4), (4, 4)]), 3.0)


class WorstMedian(unittest.TestCase):
    def test_slowest_kind_by_its_median(self):
        self.assertEqual(stats.worst_median(
            {"q62": [7.0, 6.0, 9.0], "q193": [4.0, 8.5]}), 7.0)

    def test_one_kind_is_its_median(self):
        self.assertEqual(stats.worst_median({"slice": [3, 1, 2, 10]}), 2.5)

    def test_no_kinds_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.worst_median({})


if __name__ == "__main__":
    unittest.main()
