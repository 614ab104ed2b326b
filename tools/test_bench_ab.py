#!/usr/bin/env python3
"""Self-check of tools/bench_ab.py's summary arithmetic (no benchmark runs).

    python3 tools/test_bench_ab.py
"""
import unittest

import bench_ab

# parent values 100..109: median 104.5, inclusive quartiles 102.25 and 106.75
PARENT = [100.0 + i for i in range(10)]
IQR = 4.5


class SummarizeTest(unittest.TestCase):

    def test_medians_iqr_and_wins(self):
        m = bench_ab.summarize([(p, p - 10) for p in PARENT], higher=False)
        self.assertEqual((m["parent"], m["change"], m["pairs"], m["wins"]), (104.5, 94.5, 10, 10))
        self.assertAlmostEqual(m["parent_iqr"], IQR)
        self.assertTrue(m["claim"])

    def test_nine_of_ten_wins_claim_eight_do_not(self):
        nine = [(p, p - 10) for p in PARENT[:9]] + [(PARENT[9], PARENT[9] + 1)]
        self.assertEqual(bench_ab.summarize(nine, higher=False)["wins"], 9)
        self.assertTrue(bench_ab.summarize(nine, higher=False)["claim"])
        eight = [(p, p - 10) for p in PARENT[:8]] + [(p, p + 1) for p in PARENT[8:]]
        self.assertEqual(bench_ab.summarize(eight, higher=False)["wins"], 8)
        self.assertFalse(bench_ab.summarize(eight, higher=False)["claim"])

    def test_ties_count_for_neither_side(self):
        one_tie = [(p, p - 10) for p in PARENT[:9]] + [(PARENT[9], PARENT[9])]
        self.assertEqual(bench_ab.summarize(one_tie, higher=False)["wins"], 9)
        self.assertTrue(bench_ab.summarize(one_tie, higher=False)["claim"])
        two_ties = [(p, p - 10) for p in PARENT[:8]] + [(p, p) for p in PARENT[8:]]
        self.assertFalse(bench_ab.summarize(two_ties, higher=False)["claim"])

    def test_the_median_gain_must_exceed_the_parent_iqr(self):
        # every pair wins, but the medians differ by the IQR exactly, then by less
        self.assertFalse(bench_ab.summarize([(p, p - IQR) for p in PARENT], higher=False)["claim"])
        self.assertFalse(bench_ab.summarize([(p, p - 1) for p in PARENT], higher=False)["claim"])
        self.assertTrue(bench_ab.summarize([(p, p - IQR - 0.5) for p in PARENT], higher=False)["claim"])

    def test_higher_is_better_metrics(self):
        up = [(p, p + 10) for p in PARENT]
        self.assertTrue(bench_ab.summarize(up, higher=True)["claim"])
        self.assertEqual(bench_ab.summarize(up, higher=False)["wins"], 0)
        self.assertFalse(bench_ab.summarize(up, higher=False)["claim"])

    def test_nine_in_ten_scales_with_the_pair_count(self):
        pairs = [(100.0 + i, 80.0 + i) for i in range(20)]
        eighteen = pairs[:18] + [(p, p + 1) for p, _ in pairs[18:]]
        self.assertTrue(bench_ab.summarize(eighteen, higher=False)["claim"])
        seventeen = pairs[:17] + [(p, p + 1) for p, _ in pairs[17:]]
        self.assertFalse(bench_ab.summarize(seventeen, higher=False)["claim"])


if __name__ == "__main__":
    unittest.main()
