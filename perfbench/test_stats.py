"""Unit tests for the benchmark's statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_above(self):
        xs = list(range(1, 1001))  # 1000 samples
        # p99 by nearest rank is the 990th value, with 10 above it
        self.assertEqual(stats.tail(xs), (99.0, 990, 10))

    def test_steps_down_the_ladder_as_samples_shrink(self):
        xs = list(range(1, 101))  # p90 is the highest with >= 10 above
        self.assertEqual(stats.tail(xs), (90.0, 90, 10))
        xs = list(range(1, 41))   # p75: rank 30, 10 above
        self.assertEqual(stats.tail(xs), (75.0, 30, 10))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 20), stats.tail(sorted([5, 1, 4, 2, 3] * 20)))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 9, 4]), (100.0, 9, 0))
        self.assertEqual(stats.tail([]), (100.0, 0.0, 0))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        iv = [(0, 10), (5, 15), (20, 30)]
        self.assertEqual(stats.covered(iv), 25)
        self.assertEqual(stats.covered(iv, 8, 25), 12)   # 8..15 and 20..25

    def test_self_time_subtracts_child_coverage_once(self):
        # children overlap each other and stick out of the span
        self.assertEqual(stats.self_time((100, 200), [(90, 120), (110, 130), (180, 250)]), 50)

    def test_self_time_without_children_is_the_duration(self):
        self.assertEqual(stats.self_time((0, 42), []), 42)

    def test_max_overlap_treats_touching_intervals_as_disjoint(self):
        self.assertEqual(stats.max_overlap([(0, 10), (10, 20)]), 1)
        self.assertEqual(stats.max_overlap([(0, 10), (5, 20), (6, 7)]), 3)


if __name__ == "__main__":
    unittest.main()
