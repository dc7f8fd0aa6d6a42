"""Tests of the A/B summary rules in ab_pairs.py.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""

import unittest

import ab_pairs


class CompareTest(unittest.TestCase):
    def test_parse_seeds(self):
        self.assertEqual(ab_pairs.parse_seeds("41-43,7777"), [41, 42, 43, 7777])

    def test_gain_needs_nine_tenths_of_pairs_and_more_than_the_parent_iqr(self):
        pairs = [(100 + i, 70 + i) for i in range(10)]
        s = ab_pairs.compare(pairs, "lower")
        self.assertEqual(s["wins"], 10)
        self.assertTrue(s["beyond_iqr"])
        self.assertTrue(s["gain"])
        self.assertAlmostEqual(s["move"], -30 / 104.5)
        # One loss and one tie: 8/10 wins is not a gain.
        s = ab_pairs.compare(pairs[:8] + [(100, 120), (100, 100)], "lower")
        self.assertEqual((s["wins"], s["losses"]), (8, 1))
        self.assertFalse(s["gain"])
        # Fewer than ten pairs never make a gain.
        self.assertFalse(ab_pairs.compare(pairs[:9], "lower")["gain"])

    def test_higher_is_better_and_a_small_move_is_not_a_gain(self):
        pairs = [(10 + i, 10.5 + i) for i in range(10)]
        s = ab_pairs.compare(pairs, "higher")
        self.assertEqual(s["wins"], 10)
        self.assertFalse(s["beyond_iqr"])
        self.assertFalse(s["gain"])
        self.assertLess(s["worse_by"], 0)


if __name__ == "__main__":
    unittest.main()
