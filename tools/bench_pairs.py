#!/usr/bin/env python3
"""Interleaved parent/change pairs of perfbench runs, summarized.

Usage:
  tools/bench_pairs.py --parent <checkout> --change <checkout>
      --workload corpus_index --seeds 101-110 [--seconds 12]
      [--out pairs.jsonl]
  tools/bench_pairs.py --report pairs.jsonl

Each seed is one pair: `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` runs once in each checkout (its own directory,
its own build cache), and the side that runs first alternates from pair
to pair, so a drift of the host over the session falls on both sides.
The last line a run prints is its result line
({"correct", "attempted", "failed", "metrics"}); each pair's two result
lines are appended to --out as one JSON line, and --report re-reads
such a file without running anything.

For every end-to-end metric that the change checkout's BENCHMARK.json
declares, the report prints each side's median, Q1 and Q3
(`statistics.quantiles(values, n=4)`, as perfbench/README.md quotes
them), then the pairs the change won (strictly better in the metric's
`better` direction) and the median of the per-pair differences
(change - parent). A pair in which either run was not correct or had
failed calls is listed and left out of the summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def parse_seeds(spec):
    """'101-104' or '5,9,12' (or a mix) -> [seeds], in order."""
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out.extend(range(int(lo), int(hi) + 1))
        elif part:
            out.append(int(part))
    return out


def result_line(stdout):
    """The run's result: the last line of its standard output, as JSON."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        raise ValueError("the run printed nothing")
    return json.loads(lines[-1])


def run_side(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    if proc.returncode != 0:
        return {"correct": False, "attempted": 0, "failed": 0,
                "metrics": {}, "error": f"exit {proc.returncode}"}
    return result_line(proc.stdout)


def end_to_end(checkout):
    """[(name, better)] from the checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [(m["name"], m["better"]) for m in bench["end_to_end"]]


def usable(pair):
    return all(pair[s].get("correct") and not pair[s].get("failed")
               for s in SIDES)


def quartiles(xs):
    """(Q1, median, Q3); one sample is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def summarize(pairs, metrics):
    """The report's lines for a list of pairs
    ({"seed", "first", "parent": result, "change": result})."""
    good = [p for p in pairs if usable(p)]
    lines = [f"pairs: {len(pairs)} run, {len(good)} usable"]
    for p in pairs:
        if not usable(p):
            lines.append(f"  seed {p['seed']}: left out (a run was not "
                         f"correct or had failed calls)")
    if not good:
        return lines
    lines.append(f"{'metric':18} {'side':6} {'median':>9} {'Q1':>9} "
                 f"{'Q3':>9}   change won   median diff")
    for name, better in metrics:
        have = [p for p in good
                if all(name in p[s]["metrics"] for s in SIDES)]
        if not have:
            lines.append(f"{name:18} (not reported)")
            continue
        vals = {s: [p[s]["metrics"][name]["value"] for p in have]
                for s in SIDES}
        for s in SIDES:
            q1, med, q3 = quartiles(vals[s])
            lines.append(f"{name:18} {s:6} {med:9.4g} {q1:9.4g} {q3:9.4g}")
        diffs = [c - b for b, c in zip(vals["parent"], vals["change"])]
        won = sum(1 for d in diffs if (d < 0 if better == "lower" else d > 0))
        lines.append(f"{'':18} {'':6} {'':9} {'':9} {'':9}   "
                     f"{won:>3} of {len(diffs):<3}   "
                     f"{statistics.median(diffs):+.4g}")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--out")
    ap.add_argument("--report")
    a = ap.parse_args(argv)
    if a.report:
        with open(a.report) as f:
            pairs = [json.loads(l) for l in f if l.strip()]
        metrics_from = a.change or os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..")
    else:
        if not (a.parent and a.change and a.workload and a.seeds):
            ap.error("--parent, --change, --workload and --seeds are "
                     "required unless --report is given")
        pairs = []
        for i, seed in enumerate(parse_seeds(a.seeds)):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_side(getattr(a, side), a.workload, seed,
                                      a.seconds)
            pairs.append(pair)
            print(f"seed {seed} ({order[0]} first): " + ", ".join(
                f"{s} pass_s={pair[s]['metrics'].get('pass_s', {}).get('value')}"
                for s in SIDES), file=sys.stderr, flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(pair) + "\n")
        metrics_from = a.change
    for line in summarize(pairs, end_to_end(metrics_from)):
        print(line)


if __name__ == "__main__":
    main()
