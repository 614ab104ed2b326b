#!/usr/bin/env python3
"""Per-span engine counters of a traced benchmark record.

    python3 tools/spans.py RECORD.json [--unit N]

RECORD.json is a record that `perfbench/run.py --trace 1` writes to
.bench_build/perfbench/records/. Prints one row per span of each traced unit
(pass or request), children indented under their parent: wall seconds, and
the Spark jobs, Exchanges, file-scan rows and shuffle-write bytes attributed
to the span itself (not to its children). Each unit ends with a total row
over all its work, which is what the record's `spark.*` and
`io.scan_amplification` metrics read for the unit they report.
"""
import argparse
import json
import sys

FIELDS = (("jobs", "jobs"), ("exchanges", "exch"), ("scanRows", "scan_rows"),
          ("shuffleWriteBytes", "shuf_write"))


def rows(record, unit=None):
    """(unit, depth, name, wall_s, {counter: value}) per span, then one
    (unit, 0, "total", wall_s, totals) row per unit."""
    spans = [s for s in record["spans"] if unit is None or s["unit"] == unit]
    counters = {(c["unit"], c["span"]): c for c in record["counters"]}
    out = []
    for u in sorted({s["unit"] for s in spans}):
        mine = sorted((s for s in spans if s["unit"] == u), key=lambda s: s["id"])
        depth = {}
        for s in mine:
            depth[s["id"]] = depth.get(s["parent"], -1) + 1
            own = counters.get((u, s["id"]), {})
            out.append((u, depth[s["id"]], s["name"], (s["end_ns"] - s["start_ns"]) / 1e9,
                        {k: own.get(k, 0) for k, _ in FIELDS}))
        total = {k: sum(c.get(k, 0) for (cu, _), c in counters.items() if cu == u)
                 for k, _ in FIELDS}
        wall = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in mine if s["parent"] == -1)
        out.append((u, 0, "total", wall, total))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("record")
    ap.add_argument("--unit", type=int, help="only this unit (pass or request id)")
    args = ap.parse_args()
    with open(args.record) as f:
        record = json.loads(f.readline())
    if not record.get("trace"):
        sys.exit(f"spans: {args.record} is not a traced record (run with --trace 1)")
    print(f"{'unit':>4}  {'span':<32} {'wall_s':>8} " + " ".join(f"{h:>10}" for _, h in FIELDS))
    for u, depth, name, wall, c in rows(record, args.unit):
        label = "  " * depth + name
        print(f"{u:>4}  {label:<32} {wall:>8.3f} " + " ".join(f"{c[k]:>10}" for k, _ in FIELDS))


if __name__ == "__main__":
    main()
