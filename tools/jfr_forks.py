#!/usr/bin/env python3
"""Count the child processes a JVM started, from a JFR recording.

Usage: tools/jfr_forks.py <recording.jfr>

Prints the number of `jdk.ProcessStart` events, then the counts by
command (its first word: `readlink`, `chmod`, `rm`, ...), by the first
caller frame outside the JDK, Scala and Hadoop (the code that asked
Hadoop for the fork) and by thread name (digits and a stream's
`[id = ...]` dropped, so a pool's threads count together). Reads
`jfr print --json --stack-depth 40`.

Record a benchmark run without touching it, e.g.:
  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/sd.jfr \\
    python3 perfbench/run.py --workload stream_detect --seed 12 \\
    --seconds 12 --trace 0
"""
import collections
import json
import re
import subprocess
import sys

SKIP = ("java/", "jdk/", "sun/", "scala/", "org/apache/hadoop/")


def events(text):
    """Decode the recording's events one at a time: a run's JSON is a few
    hundred MB, and one event per object keeps memory at the text's size."""
    dec = json.JSONDecoder()
    i = text.index("[", text.index('"events"')) + 1
    while True:
        while text[i] in " \t\r\n,":
            i += 1
        if text[i] == "]":
            return
        ev, i = dec.raw_decode(text, i)
        yield ev


def caller(ev):
    """`pkg.Class.method` of the first frame not in SKIP, or '?'."""
    st = ev["values"].get("stackTrace") or {}
    for f in st.get("frames") or []:
        cls = f["method"]["type"]["name"]
        if not cls.startswith(SKIP):
            return f"{cls.replace('/', '.')}.{f['method']['name']}"
    return "?"


def census(evs):
    """(total, Counter by command, by caller, by thread)."""
    by_cmd, by_caller, by_thread = (collections.Counter() for _ in range(3))
    n = 0
    for ev in evs:
        if ev.get("type") != "jdk.ProcessStart":
            continue
        n += 1
        v = ev["values"]
        by_cmd[(v.get("command") or "?").split(" ")[0]] += 1
        by_caller[caller(ev)] += 1
        th = (v.get("eventThread") or {}).get("javaName") or "?"
        by_thread[re.sub(r"\d+", "N", re.sub(r" \[id = .*", "", th))] += 1
    return n, by_cmd, by_caller, by_thread


def report(n, by_cmd, by_caller, by_thread):
    lines = [f"process starts: {n}"]
    for title, c in (("by command", by_cmd), ("by caller", by_caller),
                     ("by thread", by_thread)):
        lines.append(f"{title}:")
        lines += [f"  {k:>6}  {name}" for name, k in c.most_common()]
    return lines


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    text = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart",
         "--stack-depth", "40", argv[1]],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    print("\n".join(report(*census(events(text)))))


if __name__ == "__main__":
    main(sys.argv)
