#!/usr/bin/env python3
"""Summarize tools/ab.sh output: per query, min over each side's legs
(min-of-3 within a leg already), plus per-leg values for spread.

Usage: tools/ab_report.py <out_prefix> [out_dir]   (out_dir: /tmp)

Only queries timed in EVERY leg of both sides are compared; a query
missing from some leg, or failed there (Bench's -1 sentinel), is listed
as skipped instead of compared against a partial side.
"""
import glob
import json
import os
import sys

SIDES = ("base", "new")


def load(prefix, out_dir="/tmp"):
    """{side: [per-leg {query: seconds}]}, legs in file-name order."""
    return {side: [json.load(open(f))["queries"] for f in sorted(glob.glob(
        os.path.join(out_dir, f"{prefix}_{side}_*.json")))]
        for side in SIDES}


def report(sides):
    """The report's lines. Exits with a message when a side has no legs
    or no query is timed in every leg."""
    empty = [s for s in SIDES if not sides.get(s)]
    if empty:
        sys.exit(f"ab_report: no runs for side(s) {', '.join(empty)}")
    legs = [leg for s in SIDES for leg in sides[s]]
    seen = set().union(*legs)
    common = sorted(q for q in seen
                    if all(leg.get(q, -1) >= 0 for leg in legs))
    if not common:
        sys.exit("ab_report: no query was timed in every leg")
    lines = [f"{'query':38} {'base':>7} {'new':>7} {'speedup':>8}  "
             f"legs(base|new)"]
    for q in common:
        b, n = (min(leg[q] for leg in sides[s]) for s in SIDES)
        lb, ln = (",".join(f"{leg[q]:.2f}" for leg in sides[s])
                  for s in SIDES)
        lines.append(f"{q:38} {b:7.2f} {n:7.2f} {b / n:8.2f}  {lb}|{ln}")
    skipped = sorted(seen - set(common))
    if skipped:
        lines.append(f"skipped (missing or failed in some leg): "
                     f"{', '.join(skipped)}")
    return lines


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[3])
    print("\n".join(report(load(*sys.argv[1:]))))
