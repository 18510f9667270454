"""Unit tests of the A/B claim rule in ab.py.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ab import quartiles, verdict  # noqa: E402

PARENT = [3.0, 3.1, 3.2, 3.3, 3.4, 3.5, 3.6, 3.2, 3.3, 3.4]


class VerdictTest(unittest.TestCase):

    def test_clear_gain_over_ten_pairs(self):
        change = [v - 1.0 for v in PARENT]
        wins, losses, ok, _ = verdict(PARENT, change)
        self.assertEqual((wins, losses, ok), (10, 0, True))

    def test_nine_wins_of_ten_is_enough(self):
        change = [v - 1.0 for v in PARENT]
        change[3] = PARENT[3] + 0.5
        wins, losses, ok, _ = verdict(PARENT, change)
        self.assertEqual((wins, losses, ok), (9, 1, True))

    def test_eight_wins_of_ten_is_not(self):
        change = [v - 1.0 for v in PARENT]
        change[3] = PARENT[3] + 0.5
        change[4] = PARENT[4] + 0.5
        wins, _, ok, why = verdict(PARENT, change)
        self.assertEqual((wins, ok), (8, False))
        self.assertIn("8/10", why)

    def test_a_tie_is_no_win(self):
        change = [v - 1.0 for v in PARENT]
        change[0], change[1] = PARENT[0], PARENT[1]
        wins, losses, ok, _ = verdict(PARENT, change)
        self.assertEqual((wins, losses, ok), (8, 0, False))

    def test_fewer_than_ten_pairs_never_claim(self):
        change = [v - 1.0 for v in PARENT]
        _, _, ok, why = verdict(PARENT[:9], change[:9])
        self.assertFalse(ok)
        self.assertIn("9 pairs", why)

    def test_gap_within_parent_iqr_is_no_gain(self):
        q1, _, q3 = quartiles(PARENT)
        # every pair won, but by less than the parent's own spread
        change = [v - (q3 - q1) / 2 for v in PARENT]
        wins, _, ok, why = verdict(PARENT, change)
        self.assertEqual((wins, ok), (10, False))
        self.assertIn("IQR", why)

    def test_higher_is_better_flips_the_sides(self):
        change = [v + 1.0 for v in PARENT]
        self.assertTrue(verdict(PARENT, change, "higher")[2])
        self.assertFalse(verdict(PARENT, change, "lower")[2])
        self.assertEqual(verdict(PARENT, change, "lower")[:2], (0, 10))

    def test_unpaired_samples_are_refused(self):
        with self.assertRaises(ValueError):
            verdict(PARENT, PARENT[:9])

    def test_quartiles_match_perfbench(self):
        # perfbench/stats.py reads quartiles by statistics.quantiles(n=4)
        self.assertEqual(quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (1.5, 3.0, 4.5))
        self.assertEqual(quartiles([2.0]), (2.0, 2.0, 2.0))


if __name__ == "__main__":
    unittest.main()
