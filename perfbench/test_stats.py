"""Tests of the benchmark's statistics helpers:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from stats import TooFewSamples, length, minus, percentile, self_time, union


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(len([x for x in xs if x > percentile(xs, 90)]), 10)
        with self.assertRaises(TooFewSamples):
            percentile(xs[:99], 90)

    def test_p50_needs_twenty_samples(self):
        self.assertEqual(percentile(range(20), 50), 9)
        with self.assertRaises(TooFewSamples):
            percentile(range(19), 50)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(percentile(xs, 50), 3)
        self.assertEqual(percentile(sorted(xs), 50), 3)

    def test_rejects_degenerate_quantiles(self):
        for q in (0, 100):
            with self.assertRaises(TooFewSamples):
                percentile(range(1000), q)


class JobIntervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])

    def test_length_counts_overlap_once(self):
        self.assertEqual(length([(0, 10), (2, 3), (8, 12), (20, 21)]), 13)

    def test_empty_and_zero_width(self):
        self.assertEqual(length([]), 0)
        self.assertEqual(union([(3, 3)]), [])

    def test_minus_removes_covered_time(self):
        self.assertEqual(minus([(0, 10)], [(2, 4), (3, 5), (9, 20)]), 6)
        self.assertEqual(minus([(0, 10), (5, 15)], []), 15)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        self.assertEqual(self_time((0, 100), [(10, 20), (30, 50)]), 70)

    def test_overlapping_children_count_once(self):
        self.assertEqual(self_time((0, 100), [(10, 40), (30, 50)]), 60)

    def test_children_outside_span_are_clipped(self):
        self.assertEqual(self_time((10, 20), [(0, 15), (18, 30), (40, 50)]), 3)


if __name__ == "__main__":
    unittest.main()
