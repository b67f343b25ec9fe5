"""Tests of tools/ab_bench.py's statistics:

    python3 -m unittest tools/test_ab_bench.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_bench  # noqa: E402


class QuartilesTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(ab_bench.quartiles([4, 1, 3, 2, 5]), (2, 3, 4))
        self.assertEqual(ab_bench.quartiles([1, 2, 3, 4]), (1.75, 2.5, 3.25))

    def test_single_sample_is_every_quartile(self):
        self.assertEqual(ab_bench.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            ab_bench.quartiles([])


class WinsTest(unittest.TestCase):
    def test_direction_and_ties(self):
        pairs = [(1.0, 2.0), (1.0, 1.0), (2.0, 1.0)]
        self.assertEqual(ab_bench.wins(pairs, "higher"), (1, 3))
        self.assertEqual(ab_bench.wins(pairs, "lower"), (1, 3))


class VerdictTest(unittest.TestCase):
    def test_gain_needs_nine_in_ten_and_more_than_the_base_iqr(self):
        base = [0.10, 0.11, 0.09, 0.10, 0.105, 0.095, 0.10, 0.10, 0.11, 0.09]
        pairs = [(b, b * 1.4) for b in base]
        v = ab_bench.verdict(pairs, "higher", 0.25)
        self.assertEqual(v["status"], "gain")
        self.assertEqual((v["wins"], v["pairs"]), (10, 10))
        self.assertAlmostEqual(v["ratio"], 1.4, places=6)

    def test_fewer_than_ten_pairs_claim_no_gain(self):
        pairs = [(1.0, 2.0)] * 9
        self.assertNotEqual(ab_bench.verdict(pairs, "higher", 0.25)["status"], "gain")

    def test_eight_wins_in_ten_is_no_gain(self):
        pairs = [(1.0, 2.0)] * 8 + [(2.0, 1.0)] * 2
        self.assertEqual(ab_bench.verdict(pairs, "higher", 10.0)["status"], "no gain claimed")

    def test_ties_count_for_neither_side(self):
        pairs = [(1.0, 2.0)] * 9 + [(1.0, 1.0)]
        self.assertEqual(ab_bench.verdict(pairs, "higher", 0.25)["wins"], 9)
        pairs = [(1.0, 2.0)] * 8 + [(1.0, 1.0)] * 2
        self.assertNotEqual(ab_bench.verdict(pairs, "higher", 0.25)["status"], "gain")

    def test_median_shift_inside_the_base_iqr_is_no_gain(self):
        base = [1.0, 2.0, 3.0, 4.0, 5.0, 1.0, 2.0, 3.0, 4.0, 5.0]
        pairs = [(b, b + 0.5) for b in base]  # wins every pair, moves less than the IQR
        self.assertNotEqual(ab_bench.verdict(pairs, "higher", 10.0)["status"], "gain")

    def test_worse_beyond_bound_is_flagged(self):
        pairs = [(10.0, 13.0)] * 10  # lower is better: +30 % against a 25 % bound
        self.assertEqual(ab_bench.verdict(pairs, "lower", 0.25)["status"], "WORSE")
        self.assertEqual(ab_bench.verdict(pairs, "lower", 0.5)["status"], "no gain claimed")

    def test_spread_wider_than_bound_is_unresolved(self):
        pairs = [(1.0, 1.0), (2.0, 1.9), (1.0, 2.1), (2.0, 1.0)]
        self.assertEqual(ab_bench.verdict(pairs, "lower", 0.1)["status"], "unresolved")

    def test_wide_spread_with_every_change_run_better_is_resolved(self):
        pairs = [(3.0, 1.0), (4.0, 1.5), (3.5, 2.0), (5.0, 1.2)]
        self.assertNotEqual(ab_bench.verdict(pairs, "lower", 0.05)["status"], "unresolved")


if __name__ == "__main__":
    unittest.main()
