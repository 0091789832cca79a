"""Unit tests for the benchmark's quantile, interval and self-time helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
from stats import (descendants, interquartile_mean, median, quartiles,  # noqa: E402
                   self_times, spread, union_length)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_us": start, "end_us": end}


class QuantileTest(unittest.TestCase):
    def test_quartiles_match_statistics_module(self):
        values = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertEqual(quartiles(values), (q1, q2, q3))

    def test_spread_is_iqr_over_median(self):
        values = [10.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(spread(values), (q3 - q1) / statistics.median(values))

    def test_constant_values_have_no_spread(self):
        self.assertEqual(spread([2.0] * 10), 0.0)

    def test_degenerate_inputs(self):
        self.assertEqual(median([]), 0.0)
        self.assertEqual(quartiles([7.0]), (7.0, 7.0, 7.0))
        self.assertEqual(spread([0.0, 0.0, 0.0]), 0.0)

    def test_interquartile_mean_drops_a_quarter_at_each_end(self):
        # 8 values: the lowest two and highest two are dropped
        self.assertEqual(interquartile_mean([9.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 50.0]),
                         (3.0 + 4.0 + 5.0 + 6.0) / 4)
        # fewer than 4 values: nothing is dropped
        self.assertEqual(interquartile_mean([1.0, 2.0, 6.0]), 3.0)
        self.assertEqual(interquartile_mean([]), 0.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_clips_to_window(self):
        self.assertEqual(union_length([(0, 10), (20, 30)], lo=5, hi=25), 10)
        self.assertEqual(union_length([(0, 4)], lo=5, hi=25), 0)

    def test_empty_union(self):
        self.assertEqual(union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 50, 60),
                 span(4, 2, 15, 25)]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 30 - 10)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 10)
        # self times of a tree add up to the root's wall time
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70)]
        self.assertEqual(self_times(spans)[1], 100 - 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(self_times(spans)[1], 90)

    def test_descendants(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 2, 15, 25),
                 span(4, 0, 200, 300)]
        self.assertEqual(sorted(descendants(spans, 1)), [2, 3])
        self.assertEqual(descendants(spans, 4), [])


if __name__ == "__main__":
    unittest.main()
