#!/usr/bin/env python3
"""Self-check of tools/spans.py on a committed traced `feed` record (one pass),
alone and compared with an edited copy of itself.

    python3 tools/test_spans.py
"""
import copy
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


class CompareTest(unittest.TestCase):

    def setUp(self):
        self.old = json.loads(FIXTURE.read_text())

    def test_a_record_against_itself_has_no_deltas(self):
        out = spans.compare(self.old, self.old)
        self.assertEqual(len(out), len(spans.rows(self.old)))
        for *_, vals in out:
            for was, now in vals.values():
                self.assertEqual(was, now)

    def test_deltas_follow_the_span_path_and_the_unit_order(self):
        new = copy.deepcopy(self.old)
        for s in new["spans"]:
            s["unit"] = 7  # another pass id: units pair by order, not id
        new["counters"] = [dict(c, unit=7) for c in new["counters"]]
        # the second stream.assign loses its job; a span the old record lacks
        second = [s["id"] for s in new["spans"] if s["name"] == "stream.assign"][1]
        for c in new["counters"]:
            if c["span"] == second:
                c["jobs"] -= 1
        root = next(s for s in new["spans"] if s["parent"] == -1)
        extra = max(s["id"] for s in new["spans"]) + 1
        new["spans"].append(dict(root, id=extra, parent=root["id"], name="extra.span"))
        new["counters"].append({"unit": 7, "span": extra, "jobs": 2, "exchanges": 1})
        out = spans.compare(self.old, new)
        assigns = [vals for _, _, name, vals in out if name == "stream.assign"]
        self.assertEqual([was - now for was, now in (v["jobs"] for v in assigns)], [0, 1, 0, 0])
        self.assertEqual({u for u, *_ in out}, {"4/7"})
        (extra_row,) = [r for r in out if r[2] == "extra.span"]
        self.assertEqual((extra_row[1], extra_row[3]["jobs"], extra_row[3]["exchanges"]), (1, (0, 2), (0, 1)))
        (total,) = [vals for _, _, name, vals in out if name == "total"]
        self.assertEqual(total["jobs"], (23, 24))


if __name__ == "__main__":
    unittest.main()
