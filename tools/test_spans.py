#!/usr/bin/env python3
"""Self-check of tools/spans.py on a committed traced `feed` record (one pass).

    python3 tools/test_spans.py
"""
import json
import unittest
from pathlib import Path

import spans

FIXTURE = Path(__file__).resolve().parent / "testdata" / "feed-trace-record.json"


class SpansTest(unittest.TestCase):

    def setUp(self):
        self.rows = spans.rows(json.loads(FIXTURE.read_text()))

    def test_total_row_sums_every_span(self):
        *per_span, (unit, depth, name, wall, total) = self.rows
        self.assertEqual((unit, depth, name), (4, 0, "total"))
        for k, _ in spans.FIELDS:
            self.assertEqual(total[k], sum(c[k] for *_, c in per_span))
        self.assertEqual((total["jobs"], total["exchanges"], total["scanRows"]), (23, 6, 9000))
        self.assertAlmostEqual(wall, per_span[0][3])

    def test_children_indent_under_the_pass(self):
        self.assertEqual([r[1] for r in self.rows[:3]], [0, 1, 1])
        self.assertEqual(self.rows[0][2], "bench.pass")

    def test_later_ranks_reuse_the_first_ranks_sort(self):
        assigns = [c for _, _, name, _, c in self.rows if name == "stream.assign"]
        self.assertEqual(len(assigns), 4)
        self.assertEqual(assigns[0]["exchanges"], 1)
        for c in assigns[1:]:
            self.assertEqual((c["jobs"], c["exchanges"], c["scanRows"]), (1, 0, 0))


if __name__ == "__main__":
    unittest.main()
