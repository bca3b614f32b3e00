"""Tests of oracle_compare's row comparison (no Spark, no DuckDB).

Run from the checkout root:
  python3 -m unittest discover -s tools -v
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oracle_compare import compare_rows  # noqa: E402


class CompareRowsTest(unittest.TestCase):
    def test_exact_match_passes(self):
        rows = [(1, "a", 0.5), (2, "b", None)]
        self.assertEqual(compare_rows(rows, list(rows)), (True, None))

    def test_tie_reorder_inside_equal_keys_passes(self):
        spark = [(1, "x", 0.25), (1, "y", 0.5), (2, "z", 1.0)]
        oracle = [(1, "y", 0.5), (1, "x", 0.25), (2, "z", 1.0)]
        ok, bad = compare_rows(spark, oracle)
        self.assertTrue(ok)
        self.assertEqual(bad, (0, 1, "x", "y"))

    def test_reversed_distinct_keys_fail(self):
        spark = [(1, "x"), (2, "y"), (3, "z")]
        oracle = list(reversed(spark))
        ok, bad = compare_rows(spark, oracle)
        self.assertFalse(ok)
        self.assertEqual(bad, (0, 0, 1, 3))


if __name__ == "__main__":
    unittest.main()
