#!/usr/bin/env python3
"""Compare two tools/dump_plans.sh outputs query by query.

Usage:
  tools/plan_diff.py BEFORE_DIR AFTER_DIR [--lines N]

Files pair up by query name (the file name without its `_<suffix>.txt`).
Before comparing, both sides mask what differs between any two runs of the
same code: expression ids (`#123L`), whole-stage codegen ids, exchange
`plan_id`s, adaptive query stage ids, RDD ids with their source call
sites, file locations, object identity hashes, and a stream run's query
and run ids, batch timestamp and checkpoint directory.
Prints each differing query (with its first N changed lines) and exits 1
if any query differs or is missing on one side.
"""
import argparse
import difflib
import os
import re
import sys

MASKS = [
    (r"#\d+L?", "#N"),
    (r"codegen id : \d+", "codegen id : N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"(?m)^Arguments: \d+$", "Arguments: N"),  # AQE query stage ids
    # bounded: a plan can carry a huge literal (a bloom sketch) as one word
    (r"\b([A-Za-z]{1,40}RDD)\[\d+\] at (\w+) at \w+\.scala:\d+", r"\1[N] at \2 at SRC"),
    (r"file:[^\s,\]]+", "FILE"),
    # object identity hashes: a lambda's generated class, then any instance
    # printed by its default toString (an aggregator object in a plan)
    (r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "$Lambda$N@HASH"),
    (r"(\.[A-Za-z_$][\w$]{0,80})@[0-9a-f]{1,8}\b", r"\1@HASH"),
    # a stream run's ids, batch timestamp and ephemeral checkpoint directory
    (r"(Timeout), \d+, ", r"\1, TS, "),
    (r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b", "UUID"),
    (r"graft-ckpt-\d+", "graft-ckpt-N"),
]


def masked(path):
    text = open(path).read()
    for pattern, repl in MASKS:
        text = re.sub(pattern, repl, text)
    return text.splitlines()


def by_query(d):
    return {f.rsplit("_", 1)[0]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(".txt")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--lines", type=int, default=20)
    a = ap.parse_args()
    before, after = by_query(a.before), by_query(a.after)
    bad = 0
    for q in sorted(set(before) | set(after)):
        if q not in before or q not in after:
            print(f"MISSING {q}")
            bad += 1
            continue
        diff = [l for l in difflib.unified_diff(
            masked(before[q]), masked(after[q]), lineterm="", n=0)
            if l[:1] in "+-" and not l.startswith(("+++", "---"))]
        if diff:
            bad += 1
            print(f"DIFF {q} ({len(diff)} changed lines)")
            for line in diff[:a.lines]:
                print("   ", line)
    print(f"{len(set(before) | set(after)) - bad} identical, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
