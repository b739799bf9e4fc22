#!/usr/bin/env python3
"""Compare two Bench artifacts over the queries both of them measured.

Usage:
  tools/bench_diff.py A.json B.json

A and B are the full artifacts `graft.Bench` writes to
`SPARK_GRAFT_BENCH_OUT` (default BENCH.json). Prints, for A and for B:
the artifacts' raw and trusted totals, the raw total over the shared
queries (sum of per-query minimum seconds), and the totals of the
per-query minimum `tasks` and `cpu_ms` over reps. Then lists the ten
largest per-query wall-time changes. Tasks and CPU-seconds are the
load-independent side of a comparison; wall seconds move with the host.
"""
import json
import sys


def rep_min(art, field, name):
    vals = [v for v in art.get(field, {}).get(name, []) if v >= 0]
    return min(vals) if vals else 0


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: tools/bench_diff.py A.json B.json")
    a, b = (json.load(open(p)) for p in sys.argv[1:])
    common = sorted(set(a["queries"]) & set(b["queries"]))
    print(f"common queries: {len(common)} "
          f"(A only {len(set(a['queries']) - set(common))}, "
          f"B only {len(set(b['queries']) - set(common))})")
    rows = [
        ("value (s)", a["value"], b["value"]),
        ("value_trusted (s)", a["value_trusted"], b["value_trusted"]),
        ("raw over common (s)", sum(a["queries"][q] for q in common),
         sum(b["queries"][q] for q in common)),
        ("min tasks", sum(rep_min(a, "tasks", q) for q in common),
         sum(rep_min(b, "tasks", q) for q in common)),
        ("min cpu (s)", sum(rep_min(a, "cpu_ms", q) for q in common) / 1e3,
         sum(rep_min(b, "cpu_ms", q) for q in common) / 1e3),
    ]
    for label, x, y in rows:
        d = 0 if label == "min tasks" else 1
        print(f"{label:20s} {x:12,.{d}f} -> {y:12,.{d}f}  ({y - x:+,.{d}f})")
    print("largest per-query wall changes (s):")
    moved = sorted(common, key=lambda q: -abs(b["queries"][q] - a["queries"][q]))
    for q in moved[:10]:
        x, y = a["queries"][q], b["queries"][q]
        print(f"  {q:40s} {x:8.3f} -> {y:8.3f}  ({y - x:+.3f})  "
              f"tasks {rep_min(a, 'tasks', q)} -> {rep_min(b, 'tasks', q)}")


if __name__ == "__main__":
    main()
