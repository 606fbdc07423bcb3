"""Unit tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailPercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_above(self):
        xs = list(range(1, 101))          # 1..100
        p, value, n = stats.tail_percentile(xs)
        self.assertEqual((p, value, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_small_sample_moves_the_percentile_down(self):
        xs = list(range(1, 21))           # n = 20: p50 has 10 above
        self.assertEqual(stats.tail_percentile(xs), (50, 10, 20))

    def test_ties_at_the_cut_are_not_counted_above(self):
        xs = [1.0] * 5 + [2.0] * 20
        p, value, n = stats.tail_percentile(xs)
        # every percentile at or above p20 lands on 2.0, with none above
        self.assertEqual((p, value, n), (20, 1.0, 25))

    def test_undefined_with_ten_or_fewer_samples(self):
        self.assertEqual(stats.tail_percentile([3, 1, 2]), (None, None, 3))
        self.assertEqual(stats.tail_percentile(list(range(10)))[0], None)

    def test_order_does_not_matter(self):
        xs = [7, 3, 9, 1, 5, 2, 8, 4, 6, 10, 11, 12]
        self.assertEqual(stats.tail_percentile(xs),
                         stats.tail_percentile(sorted(xs)))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        busy, gap = stats.driver_gap(100, 200, [(110, 150), (140, 160),
                                                (190, 230)])
        self.assertEqual(busy, 60)        # 110..160 plus 190..200
        self.assertEqual(gap, 40)

    def test_driver_gap_without_jobs_is_the_whole_op(self):
        self.assertEqual(stats.driver_gap(0, 50, []), (0, 50))


class SelfTimeTest(unittest.TestCase):
    def test_span_minus_child_coverage(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40)]), 70)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 100), [(-10, 10), (90, 120)]), 80)

    def test_leaf_span_is_all_self(self):
        self.assertEqual(stats.self_time((5, 9), []), 4)


class FailRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.fail_ratio(40, 0), 0.0)
        self.assertEqual(stats.fail_ratio(40, 10), 0.25)

    def test_no_attempts_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)


class AttributeTest(unittest.TestCase):
    def test_time_lands_in_its_window(self):
        windows = [(0, 10), (12, 20), (25, 30)]
        self.assertEqual(stats.attribute(5, windows), 0)
        self.assertEqual(stats.attribute(12, windows), 1)
        self.assertEqual(stats.attribute(30, windows), 2)

    def test_time_between_windows_is_unattributed(self):
        self.assertIsNone(stats.attribute(11, [(0, 10), (12, 20)]))
        self.assertIsNone(stats.attribute(99, [(0, 10)]))


if __name__ == "__main__":
    unittest.main()
