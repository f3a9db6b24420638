"""Self-tests for compare.py's statistics: python3 -m unittest perfbench/test_compare.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402


class CompareTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        q1, q2, q3 = compare.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(compare.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)

    def test_improvement_direction(self):
        self.assertAlmostEqual(compare.improvement(10.0, 9.0, "lower"), 0.1)
        self.assertAlmostEqual(compare.improvement(10.0, 9.0, "higher"), -0.1)

    def test_pair_wins(self):
        self.assertEqual(compare.pair_wins([2, 2, 2, 2], [1, 1, 3, 1], "lower"), 0.75)
        self.assertEqual(compare.pair_wins([2, 2], [3, 3], "higher"), 1.0)

    def test_verdicts(self):
        base = [10.0] * 8
        self.assertEqual(compare.verdict(base, [12.0] * 8, "lower", 0.1), "worse")
        self.assertEqual(compare.verdict(base, [8.0] * 8, "lower", 0.1), "better")
        self.assertEqual(compare.verdict(base, [9.5] * 8, "lower", 0.1), "unresolved")
        # a big median gain that does not win most pairs stays unresolved
        self.assertEqual(compare.verdict(base, [5, 5, 5, 11, 11, 11, 5, 11], "lower", 0.1),
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
