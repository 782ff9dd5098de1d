"""Verdict logic of tools/pairs.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pairs  # noqa: E402


class VerdictTest(unittest.TestCase):

    def test_iqr_of_quartiles(self):
        self.assertEqual(pairs.iqr([1, 2, 3, 4, 5]), 2.0)
        self.assertEqual(pairs.iqr([7.0]), 0.0)

    def test_wins_ignore_ties_and_follow_direction(self):
        self.assertEqual(pairs.wins([5, 5, 5], [4, 5, 6], "lower"), 1)
        self.assertEqual(pairs.wins([5, 5, 5], [4, 5, 6], "higher"), 1)

    def test_gain_needs_nine_of_ten_and_a_gap_beyond_the_parent_iqr(self):
        parent = [5.0, 5.2, 5.1, 5.3, 4.9, 5.0, 5.2, 5.1, 5.0, 5.4]
        change = [3.8, 3.9, 3.7, 4.0, 3.8, 3.9, 3.8, 3.7, 3.9, 3.8]
        self.assertEqual(pairs.verdict(parent, change, "lower", 0.25)["verdict"], "gain")

    def test_eight_wins_of_ten_is_no_gain(self):
        parent = [5.0] * 10
        change = [3.0] * 8 + [5.5, 5.5]
        v = pairs.verdict(parent, change, "lower", 0.25)
        self.assertEqual(v["wins"], 8)
        self.assertNotEqual(v["verdict"], "gain")

    def test_a_gap_inside_the_parent_iqr_is_no_gain(self):
        parent = [5.0, 5.2] * 5
        change = [4.95, 5.15] * 5
        v = pairs.verdict(parent, change, "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertEqual(v["verdict"], "within bound")

    def test_regression_beyond_the_bound(self):
        parent = [1.0] * 10
        change = [1.3] * 10
        self.assertEqual(pairs.verdict(parent, change, "lower", 0.25)["verdict"], "regression")
        self.assertEqual(pairs.verdict(parent, [1.2] * 10, "lower", 0.25)["verdict"],
                         "within bound")

    def test_higher_is_better(self):
        parent = [10.0] * 10
        self.assertEqual(pairs.verdict(parent, [7.0] * 10, "higher", 0.25)["verdict"],
                         "regression")
        self.assertEqual(pairs.verdict(parent, [14.0] * 10, "higher", 0.25)["verdict"], "gain")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        parent = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
        change = [1.1, 1.9, 1.1, 1.9, 1.1, 1.9, 1.1, 1.9, 2.1, 0.9]
        self.assertEqual(pairs.verdict(parent, change, "lower", 0.25)["verdict"], "unresolved")

    def test_wide_spread_but_every_change_run_better_is_resolved(self):
        parent = [10.0, 20.0] * 5
        change = [9.0, 9.5] * 5
        v = pairs.verdict(parent, change, "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertEqual(v["verdict"], "within bound")


if __name__ == "__main__":
    unittest.main()
