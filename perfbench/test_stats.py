"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import pandas as pd

import oracle
from stats import percentile, self_time, union_length


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 50), (50, 100))
        self.assertEqual(percentile(xs, 90), (90, 100))

    def test_needs_ten_samples_beyond(self):
        # p90 of 99 samples has only 9.9 samples beyond it
        self.assertEqual(percentile(list(range(99)), 90), (None, 99))
        self.assertEqual(percentile([], 50), (None, 0))
        self.assertEqual(percentile(list(range(20)), 50), (9, 20))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 40
        self.assertEqual(percentile(xs, 90), percentile(sorted(xs), 90))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_length([]), 0)

    def test_union_touching_intervals(self):
        self.assertEqual(union_length([(0, 1), (1, 2)]), 2)

    def test_union_is_clipped(self):
        self.assertEqual(union_length([(0, 4), (6, 12)], lo=2, hi=8), 4)
        self.assertEqual(union_length([(0, 1)], lo=2, hi=3), 0)

    def test_self_time_is_wall_not_covered_by_children(self):
        # a query from 0 to 10 with jobs over [1, 3] and [2, 5]: the driver
        # gap is 10 - 4; a job leaking past the query end is clipped
        self.assertEqual(self_time((0, 10), [(1, 3), (2, 5)]), 6)
        self.assertEqual(self_time((0, 10), [(8, 15)]), 8)
        self.assertEqual(self_time((0, 10), []), 10)


class FingerprintTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
        b = pd.DataFrame({"v": ["a", "b"], "k": [1, 2]})
        self.assertEqual(oracle.fingerprint(a), oracle.fingerprint(b))
        self.assertIsNone(oracle.compare(a, b))

    def test_values_matter(self):
        a = pd.DataFrame({"k": [1, 2]})
        b = pd.DataFrame({"k": [1, 3]})
        self.assertNotEqual(oracle.fingerprint(a), oracle.fingerprint(b))
        self.assertIsNotNone(oracle.compare(a, b))
        self.assertEqual(oracle.fingerprint(a)[0], 2)

    def test_object_columns_compare_as_strings(self):
        # check.py renders object columns with str(), so a list and its
        # string form canonicalize alike
        a = pd.DataFrame({"x": [[1, 2]]})
        b = pd.DataFrame({"x": ["[1, 2]"]})
        self.assertIsNone(oracle.compare(a, b))

    def test_integer_width_is_ignored_but_exactness_is_not(self):
        a = pd.DataFrame({"n": pd.Series([1, 2], dtype="int32")})
        b = pd.DataFrame({"n": pd.Series([1, 2], dtype="int64")})
        self.assertIsNone(oracle.compare(a, b))
        c = pd.DataFrame({"n": [1.0, 2.0000001]})
        self.assertIsNotNone(oracle.compare(b, c))


if __name__ == "__main__":
    unittest.main()
