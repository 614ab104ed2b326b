#!/usr/bin/env python3
"""Per-span engine counters of a traced benchmark record, or their deltas
between two records.

    python3 tools/spans.py RECORD.json [--unit N]
    python3 tools/spans.py OLD.json NEW.json [--unit N]

RECORD.json is a record that `perfbench/run.py --trace 1` writes to
.bench_build/perfbench/records/. Prints one row per span of each traced unit
(pass or request), children indented under their parent: wall seconds, and
the Spark jobs, Exchanges, file-scan rows and shuffle-write bytes attributed
to the span itself (not to its children). Each unit ends with a total row
over all its work, which is what the record's `spark.*` and
`io.scan_amplification` metrics read for the unit they report.

Given two records (say a parent commit's and a change's, same workload and
seed), prints each of those values as old, new and new - old per span. Units
pair up in order (the first traced unit of OLD with the first of NEW), and
spans pair up by their path of names under the unit; a span present in one
record only reads 0 in the other.
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


def keyed(record, unit=None):
    """{unit: [((path, nth), depth, name, {"wall": s, counter: value})]} in
    row order; `path` is the span's names from its unit's root down, and
    `nth` counts earlier spans with the same path."""
    out = {}
    for u, depth, name, wall, c in rows(record, unit):
        mine = out.setdefault(u, [])
        stack = mine[-1][0][0][:depth] if mine and depth else ()
        path = stack + (name,)
        nth = sum(1 for (p, _), *_ in mine if p == path)
        mine.append(((path, nth), depth, name, dict(c, wall=wall)))
    return out


def compare(old, new, unit=None):
    """(unit, depth, name, {field: (old, new)}) per span of either record,
    units paired in order and spans by path; "wall" is one of the fields."""
    a, b = keyed(old, unit), keyed(new, unit)
    fields = ("wall",) + tuple(k for k, _ in FIELDS)
    out = []
    for ua, ub in zip(sorted(a), sorted(b)):
        was = {key: vals for key, _, _, vals in a[ua]}
        now = {key: vals for key, _, _, vals in b[ub]}
        for key, depth, name, _ in b[ub] + [r for r in a[ua] if r[0] not in now]:
            out.append((ub if ua == ub else f"{ua}/{ub}", depth, name,
                        {f: (was.get(key, {}).get(f, 0), now.get(key, {}).get(f, 0)) for f in fields}))
    return out


def load(path):
    with open(path) as f:
        record = json.loads(f.readline())
    if not record.get("trace"):
        sys.exit(f"spans: {path} is not a traced record (run with --trace 1)")
    return record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("record")
    ap.add_argument("new", nargs="?", help="a second record: print old, new and delta per span")
    ap.add_argument("--unit", type=int, help="only this unit (pass or request id)")
    args = ap.parse_args()
    record = load(args.record)
    if args.new:
        heads = [("wall", "wall_s")] + list(FIELDS)
        print(f"{'unit':>5}  {'span':<32} " + " ".join(f"{h + ' old/new/delta':>32}" for _, h in heads))
        for u, depth, name, vals in compare(record, load(args.new), args.unit):
            cells = []
            for f, _ in heads:
                was, now = vals[f]
                fmt = ".3f" if f == "wall" else "d"
                cells.append(f"{format(was, fmt):>10} {format(now, fmt):>10} {format(now - was, '+' + fmt):>10}")
            print(f"{u:>5}  {'  ' * depth + name:<32} " + " ".join(cells))
        return
    print(f"{'unit':>4}  {'span':<32} {'wall_s':>8} " + " ".join(f"{h:>10}" for _, h in FIELDS))
    for u, depth, name, wall, c in rows(record, args.unit):
        label = "  " * depth + name
        print(f"{u:>4}  {label:<32} {wall:>8.3f} " + " ".join(f"{c[k]:>10}" for k, _ in FIELDS))


if __name__ == "__main__":
    main()
