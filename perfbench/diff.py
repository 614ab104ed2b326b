#!/usr/bin/env python3
"""Compare two sets of benchmark records metric by metric, one row per workload.

    python3 perfbench/diff.py OLD NEW [--trace 0|1]

OLD and NEW are each a record file, a directory of record files (the
benchmark writes them to .bench_build/perfbench/records/), or a file of
result lines as run.py prints them, each prefixed with the workload name and
a space. Records of several seeds are summarized by their median. Each cell
reads "new (change vs old)"; a "!" marks a change worse than the metric's
bound in BENCHMARK.json.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(path, trace):
    """{workload: {metric: [values]}} from records or result lines."""
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    out = {}
    for f in files:
        for line in f.read_text().splitlines():
            line = line.strip()
            if not line:
                continue
            if line.startswith("{"):
                rec = json.loads(line)
                if int(rec.get("trace", 0)) != trace:
                    continue
                workload = rec["workload"]
            else:
                workload, _, rest = line.partition(" ")
                rec = json.loads(rest)
            for name, m in rec["metrics"].items():
                out.setdefault(workload, {}).setdefault(name, []).append(float(m["value"]))
    return out


def bounds():
    """{metric: (better, bound)} from BENCHMARK.json, when it is there."""
    if not BENCHMARK.is_file():
        return {}
    b = json.loads(BENCHMARK.read_text())
    return {m["name"]: (m["better"], m.get("bound"))
            for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def cell(old, new, rule):
    if new is None:
        return "-"
    if old is None:
        return f"{new:.4g}"
    change = (new - old) / abs(old) if old else 0.0
    flag = ""
    if rule and rule[1] is not None:
        worse = -change if rule[0] == "higher" else change
        flag = "!" if worse > rule[1] else ""
    return f"{new:.4g} ({change:+.1%}){flag}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="compare per-layer (1) instead of end-to-end (0) records")
    args = ap.parse_args()
    old, new = load(args.old, args.trace), load(args.new, args.trace)
    rules = bounds()
    workloads = sorted(set(old) | set(new))
    if not workloads:
        sys.exit("no records found")
    metrics = sorted({m for w in workloads for side in (old, new) for m in side.get(w, {})})
    med = lambda side, w, m: (statistics.median(side[w][m])
                              if m in side.get(w, {}) else None)
    rows = [["workload"] + metrics]
    for w in workloads:
        rows.append([w] + [cell(med(old, w, m), med(new, w, m), rules.get(m)) for m in metrics])
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(widths[i]) for i, c in enumerate(r)).rstrip())


if __name__ == "__main__":
    main()
