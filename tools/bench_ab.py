#!/usr/bin/env python3
"""Alternating A/B runs of the declared benchmark on two checkouts.

    python3 tools/bench_ab.py --parent DIR --change DIR --workload feed \\
        --seeds 101-108 [--seconds 6] [--trace 0|1]

Each seed is one pair: both checkouts run their own perfbench/run.py with
that seed, the parent first on odd pairs and the change first on even ones,
so a drift in host load does not favour one side. Every run's line is
printed as it finishes; then, per metric, each side's median, the parent's
interquartile range, the change's median delta, and in how many pairs the
change was better (ties count for neither side); then the failure totals.
Which direction is better comes from the change's BENCHMARK.json (unlisted
metrics: lower is better).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def higher_is_better(checkout):
    path = Path(checkout) / "BENCHMARK.json"
    if not path.is_file():
        return {"rows_per_s"}
    spec = json.loads(path.read_text())
    return {m["name"] for key in ("end_to_end", "per_layer") for m in spec.get(key, [])
            if m.get("better") == "higher"}


def run(checkout, workload, seed, seconds, trace):
    """One run's JSON record, or None when the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"  run failed (exit {r.returncode}): {r.stderr.strip()[-300:]}", flush=True)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-108 or 101,105-107")
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sides = {"parent": args.parent, "change": args.change}
    records = {"parent": [], "change": []}  # per pair: record or None
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            rec = run(sides[side], args.workload, seed, args.seconds, args.trace)
            records[side].append(rec)
            if rec is not None:
                vals = " ".join(f"{k}={v['value']:.6g}" for k, v in rec["metrics"].items())
                print(f"pair {i + 1} seed {seed} {side:6} {vals} "
                      f"attempted={rec['attempted']} failed={rec['failed']}", flush=True)

    higher = higher_is_better(args.change)
    names = []
    for rec in records["parent"] + records["change"]:
        for k in (rec or {}).get("metrics", {}):
            if k not in names:
                names.append(k)
    print(f"\n{args.workload}: {len(records['parent'])} pairs at --seconds {args.seconds:g}")
    print(f"{'metric':32} {'better':6} {'parent':>12} {'parent_iqr':>12} {'change':>12} "
          f"{'delta':>8} {'wins':>7}")
    for name in names:
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(records["parent"], records["change"])
                 if p and c and name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        par = [p for p, _ in pairs]
        chg = [c for _, c in pairs]
        up = name in higher
        wins = sum(1 for p, c in pairs if (c > p if up else c < p))
        q1, q3 = quartiles(par)
        pm, cm = statistics.median(par), statistics.median(chg)
        delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
        print(f"{name:32} {'higher' if up else 'lower':6} {pm:12.6g} {q3 - q1:12.6g} {cm:12.6g} "
              f"{delta:>8} {wins:>3}/{len(pairs):<3}")
    for side in ("parent", "change"):
        recs = records[side]
        ok = [r for r in recs if r]
        print(f"{side}: {len(recs) - len(ok)} failed runs; "
              f"{sum(r['failed'] for r in ok)}/{sum(r['attempted'] for r in ok)} failed operations")


if __name__ == "__main__":
    main()
