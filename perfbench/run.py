#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

Builds the program and the harness from source on first use (sbt; the
class path is cached in the build directory, `$CARGO_TARGET_DIR` or
`.bench_build`, keyed by a fingerprint of the sources), generates the
workload's inputs from the seed, runs perfbench.Harness in one JVM, checks
every output against its oracle, and prints one metric per line followed
by the JSON result as the last line. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones from a traced run. See
perfbench/README.md for what each metric and workload is for.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no caches beside tools/ sources
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

# Set-ups timed per run. The first is the JVM's cold one (class loading,
# JIT) and is printed but left out of setup_s.
SETUPS = 6

# Each workload's calls are pinned by query key; the seed changes the
# generated rows and the call order within each pass, never the calls.
WORKLOADS = {
    # Corpus cleaning and a persisted serving layout on a multi-file corpus
    # that splits across all cores. q62's connected-components loop
    # (shuffle, operator kernels, core.Ckpt checkpoints) beside q193's
    # IVF-SQ8 layout, written under java.io.tmpdir and probed from disk
    # (core.Fs writes and reads).
    "corpus_index": {
        "calls": ["q62_multilink_clusters", "q193_ivf_sq8_stored"],
        "docs": 400, "vectors": 200, "parts": 4,
    },
    # The only workload through graft.streaming: three keyed detectors
    # (flatMapGroupsWithState, state store, per-micro-batch planning and
    # commits) fed the same events in fixed-size slices.
    "stream_detect": {
        "events": 4500, "days": 7, "slice": 500, "parts": 1,
    },
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint(root):
    """Size and mtime of every build input: program and harness sources
    and both build definitions."""
    h = hashlib.sha256()
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for f in ("build.sbt", "perfbench/build.sbt"):
        st = os.stat(os.path.join(root, f))
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt when the sources changed; return the class path."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp_file = os.path.join(build_dir, "fingerprint.txt")
    fp = fingerprint(root)
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines()
             if "perfbench" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1].strip()


def generate(workload, seed, data):
    import gen
    w = WORKLOADS[workload]
    os.makedirs(data)
    if "events" in w:
        tables = gen.events(seed, w["events"], w["days"])
    else:
        tables = gen.corpus(seed, w["docs"], w["vectors"])
    return gen.write(tables, data, w["parts"])


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def harness(classpath, args, work, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # A fixed young generation and glibc arena count keep the JVM's peak
    # resident set from moving with GC sizing decisions between runs.
    cmd = [java, "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *JVM_OPENS,
           "-cp", classpath, "perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {timeout:.0f} s")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(result) as f:
        return json.load(f)


def oracle_check(res, data, work, tables):
    """Compare every batch output with its DuckDB oracle, canonicalized as
    tools/check.py does. Returns (mismatch list, result rows per key)."""
    import duckdb
    import gen
    sys.path.insert(0, os.path.join(HERE, "..", "tools"))
    from check import canon
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"{gen.scan_glob(data, t)}")
    bad, rows = [], {}
    for key, sql in sorted(res["oracle_sql"].items()):
        out = os.path.join(work, "outputs", key)
        if not os.path.isdir(out):
            bad.append(f"{key}: no output")
            continue
        try:
            got = con.execute(f"SELECT * FROM '{out}/*.parquet'").df()
            exp = con.execute(sql).df()
            rows[key] = len(got)
            if canon(got) != canon(exp):
                bad.append(f"{key}: rows spark={len(got)} duckdb={len(exp)}")
        except Exception as e:  # an oracle that cannot run is a mismatch
            bad.append(f"{key}: {type(e).__name__}: {e}")
    return bad, rows


def stream_check(res, data):
    """Compare each detector's final per-key snapshot with its batch twin
    (q155/q148/q156) over the same events.parquet, evaluated by the twin's
    DuckDB oracle. Returns mismatch strings."""
    import duckdb
    import gen
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"{gen.scan_glob(data, 'events')}")
    bad = []
    for name, snap in sorted(res["snapshots"].items()):
        cols = ", ".join(["event_type"] + snap["cols"])
        twin = {r[0]: list(r[1:]) for r in con.execute(
            f"SELECT {cols} FROM ({snap['oracle_sql']})").fetchall()}
        got = snap["rows"]
        if not got:
            bad.append(f"{name}: empty snapshot")
        for k in sorted(set(got) | set(twin)):
            if got.get(k) != twin.get(k):
                bad.append(f"{name}/{k}: stream={got.get(k)} "
                           f"{snap['twin']}={twin.get(k)}")
    return bad


def by_kind(timed):
    """Timed wall times per call kind: query key, or the stream's slice."""
    kinds = {}
    for c in timed:
        kinds.setdefault(c["key"], []).append(c["wall_s"])
    return kinds


def end_to_end(res, timed):
    """(value, unit, n) per end-to-end metric."""
    warm_setups = res["setup_s"][1:]
    passes = [x["wall_s"] for x in res["passes"]]
    return {
        "setup_s": (stats.median(warm_setups), "s", len(warm_setups)),
        "pass_s": (stats.median(passes), "s", len(passes)),
        "worst_call_p50_s": (stats.worst_median(by_kind(timed)), "s",
                             len(timed)),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
    }


PACKS = ["Dedup", "Similarity"]
# Listener times are whole milliseconds on the wall clock, spans are
# nanoTime mapped onto it once per run.
SLACK_MS = 20
LINKABLE = ("bench.call", "bench.pass", "bench.warmup")


def span_ivl(s):
    return (s["start_ms"], s["end_ms"])


def job_ivl(j):
    return (j["start_ms"], j["end_ms"])


def link_jobs(res):
    """Each finished job's call, stream pass or warm-up. A job keeps the
    call its perfbench.call property names when it lies inside that call.
    Otherwise (no property, or a stale one that a pooled thread inherited
    when it was created during an earlier call) it is linked by time to
    the call, else the pass or warm-up, it started in, or to nothing.
    Returns ({job id: span id}, relinked jobs)."""
    spans = [s for s in res["trace"]["spans"] if s["layer"] in LINKABLE]
    by_id = {s["id"]: s for s in spans}
    by_time = sorted(spans, key=lambda s: s["layer"] != "bench.call")

    def inside(j, s):
        return (s["start_ms"] - SLACK_MS <= j["start_ms"]
                and j["end_ms"] <= s["end_ms"] + SLACK_MS)

    link, relinked = {}, []
    for j in res["trace"]["jobs"]:
        if j["end_ms"] <= 0:
            continue
        s = by_id.get(j["call"])
        if s and inside(j, s):
            link[j["id"]] = j["call"]
            continue
        hit = next((x["id"] for x in by_time if x["start_ms"] - SLACK_MS
                    <= j["start_ms"] <= x["end_ms"] + SLACK_MS), "")
        link[j["id"]] = hit
        relinked.append(j)
    return link, relinked


def timed_jobs(res, timed):
    """The finished jobs linked to a timed call or pass, grouped by the
    timed pass they ran in."""
    link, _ = link_jobs(res)
    pass_of = {c["id"]: f"pass{c['pass']}" for c in timed}
    pass_of.update({f"pass{x['pass']}": f"pass{x['pass']}"
                    for x in res["passes"]})
    groups = {p: [] for p in set(pass_of.values())}
    for j in res["trace"]["jobs"]:
        if link.get(j["id"]) in pass_of:
            groups[pass_of[link[j["id"]]]].append(j)
    return groups


def per_layer(res, timed, result_rows, input_bytes_total):
    """Per-layer metrics from the traced run: totals per timed pass
    (averaged over passes), except ratios and peaks."""
    tr = res["trace"]
    npass = len(res["passes"])
    spans = {s["id"]: s for s in tr["spans"]}
    groups = timed_jobs(res, timed)
    mine = [j for js in groups.values() for j in js]
    link, relinked = link_jobs(res)
    relinked_ids = {j["id"] for j in relinked}

    def per_pass(x):
        return x / npass

    def job_union(js):
        return stats.union_length([job_ivl(j) for j in js]) / 1e3

    job_s = sum(job_union(js) for js in groups.values())
    pass_wall = sum(x["wall_s"] for x in res["passes"])
    harness_self = sum(stats.self_time(
        span_ivl(spans[f"pass{x['pass']}"]),
        [span_ivl(spans[c["id"]]) for c in timed if c["pass"] == x["pass"]])
        for x in res["passes"]) / 1e3
    unattributed = [j for j in mine if j["id"] in relinked_ids]
    skews = [s["max_task_ms"] / max(1, s["median_task_ms"])
             for j in mine for s in j["stages"] if s["tasks"] >= 2]
    input_records = sum(j["input_records"] for j in mine)
    ck = [j for j in mine if j["ckpt"]]
    writes = [j for j in mine if j["output_bytes"] > 0]
    out_bytes = sum(j["output_bytes"] for j in mine)
    in_bytes = sum(j["input_bytes"] for j in mine)
    rows_out = sum(result_rows.get(c["key"], 0) for c in timed)
    m = {
        "bench.build_s": per_pass(sum(c["build_s"] for c in timed)),
        "bench.execute_s": per_pass(sum(c["execute_s"] for c in timed)),
        "bench.cleanup_s": per_pass(sum(c["cleanup_s"] for c in timed)),
        "bench.harness_self_s": per_pass(harness_self),
        "spark.jobs": per_pass(len(mine)),
        "spark.tasks": per_pass(sum(j["tasks"] for j in mine)),
        "spark.job_s": per_pass(job_s),
        "spark.driver_gap_s": per_pass(pass_wall - job_s),
        "spark.executor_cpu_s": per_pass(sum(j["cpu_s"] for j in mine)),
        "spark.task_skew": stats.median(skews) if skews else 1.0,
        "spark.unattributed_job_s": per_pass(job_union(unattributed)),
        "core.Tables.input_bytes": per_pass(in_bytes),
        "core.Tables.input_records": per_pass(input_records),
        "core.Tables.scan_s": per_pass(stats.union_length(
            [(s["start_ms"], s["end_ms"]) for j in mine
             for s in j["stages"] if s["input_bytes"] > 0]) / 1e3),
        "core.Tables.records_per_result_row":
            input_records / rows_out if rows_out else 0.0,
        "shuffle.write_bytes": per_pass(
            sum(j["shuffle_write_bytes"] for j in mine)),
        "shuffle.read_bytes": per_pass(
            sum(j["shuffle_read_bytes"] for j in mine)),
        "shuffle.spill_bytes": per_pass(sum(j["spill_bytes"] for j in mine)),
        "core.Ckpt.jobs": per_pass(len(ck)),
        "core.Ckpt.job_s": per_pass(job_union(ck)),
        "core.Ckpt.block_bytes_peak": max(
            [c.get("block_peak_bytes", 0) for c in timed] or [0]),
        "core.Fs.output_bytes": per_pass(out_bytes),
        "core.Fs.files_written": per_pass(
            sum(c["files_written"] for c in timed)),
        "core.Fs.fs_bytes_written": per_pass(
            sum(c["fs"]["bytes_written"] for c in timed)),
        "core.Fs.fs_bytes_read": per_pass(
            sum(c["fs"]["bytes_read"] for c in timed)),
        "core.Fs.write_job_s": per_pass(job_union(writes)),
        "core.Fs.bytes_on_disk": max([c["disk_bytes"] for c in timed] or [0]),
        "core.Fs.write_amp": out_bytes / input_bytes_total,
        "jvm.gc_s": per_pass(sum(c["gc_s"] for c in timed)),
        "jvm.heap_after_gc_mb": max(c["heap_after_gc_mb"] for c in timed),
        "trace.pass_s": stats.median([x["wall_s"] for x in res["passes"]]),
    }
    for pack in PACKS:
        keys = {k for k, v in res.get("packs", {}).items() if v == pack}
        m[f"operators.{pack}.job_s"] = per_pass(job_union(
            [j for j in mine if link[j["id"]] in spans
             and spans[link[j["id"]]]["name"] in keys]))
    prog = [p for p in tr["progress"] if not p["name"].endswith("_p0")]
    for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
        xs = [p["duration_ms"].get(phase, 0) for p in prog]
        m[f"streaming.{phase}_ms"] = stats.median(xs) if xs else 0.0
    m["streaming.state_rows"] = max([p["state_rows"] for p in prog] or [0])
    m["streaming.state_bytes"] = max([p["state_bytes"] for p in prog] or [0])
    return m


def accounting(res, timed):
    """The traced run's self-checks, each comparing the harness's own
    clock with Spark's listener and progress events. Returns failure
    strings.

    - Every job linked to a timed call or pass lies inside that span, so
      each pass's job union fits in its wall: driver_gap_s >= 0.
    - Every job that started while a timed pass ran has ended.
    - Stream: per detector and pass, the engine's progress events count
      every event fed, and their trigger times fit in the pass wall.
    """
    bad = []
    spans = {s["id"]: s for s in res["trace"]["spans"]}
    link, _ = link_jobs(res)
    timed_ids = {c["id"] for c in timed} | {
        f"pass{x['pass']}" for x in res["passes"]}
    for j in res["trace"]["jobs"]:
        sid = link.get(j["id"])
        if sid in timed_ids and not (
                spans[sid]["start_ms"] - SLACK_MS <= j["start_ms"]
                and j["end_ms"] <= spans[sid]["end_ms"] + SLACK_MS):
            bad.append(f"job {j['id']} runs outside {sid}")
    groups = timed_jobs(res, timed)
    for x in res["passes"]:
        p = f"pass{x['pass']}"
        start, end = span_ivl(spans[p])
        for j in res["trace"]["jobs"]:
            if start <= j["start_ms"] <= end and j["end_ms"] <= 0:
                bad.append(f"job {j['id']} started in {p} and never ended")
        gap = x["wall_s"] - stats.union_length(
            [job_ivl(j) for j in groups.get(p, [])]) / 1e3
        if gap < -SLACK_MS / 1e3:
            bad.append(f"{p}: driver gap {gap:.4f} s is negative")
        for d in res.get("snapshots", {}):
            prog = [q for q in res["trace"]["progress"]
                    if q["name"] == f"{d}_p{x['pass']}"]
            rows = sum(q["input_rows"] for q in prog)
            trig = sum(q["duration_ms"].get("triggerExecution", 0)
                       for q in prog)
            if rows != res["events"]:
                bad.append(f"{p}/{d}: progress counts {rows} input rows, "
                           f"{res['events']} were fed")
            if trig > x["wall_s"] * 1e3 + SLACK_MS:
                bad.append(f"{p}/{d}: triggers {trig} ms exceed the pass "
                           f"wall {x['wall_s'] * 1e3:.0f} ms")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        fail("run from the root of a graft checkout (no build.sbt or src/)")
    build_dir = os.path.abspath(
        os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)
    # the first run in a checkout may build for minutes; a run may not
    t_start = time.monotonic()

    w = WORKLOADS[args.workload]
    work = os.path.join(build_dir, "perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        t0 = time.monotonic()
        prov = generate(args.workload, args.seed, data)
        gen_s = time.monotonic() - t0
        nproc = os.cpu_count()
        h_args = {"workload": args.workload, "data": data, "work": work,
                  "seconds": args.seconds, "seed": args.seed,
                  "trace": args.trace, "cpus": nproc, "setups": SETUPS,
                  "tables": ",".join(sorted(prov))}
        if "calls" in w:
            h_args["calls"] = ",".join(w["calls"])
        else:
            h_args["slice"] = w["slice"]
        remaining = 170 - (time.monotonic() - t_start)
        t0 = time.monotonic()
        res = harness(classpath, h_args, work, remaining)
        harness_s = time.monotonic() - t0
        timed = [c for c in res["calls"] if c["pass"] > 0 and c["ok"]]
        attempted = len(res["calls"])
        failed = sum(1 for c in res["calls"] if not c["ok"])

        t0 = time.monotonic()
        wrong, rows = [], {}
        if "oracle_sql" in res:
            wrong, rows = oracle_check(res, data, work, prov)
        else:
            wrong = stream_check(res, data)

        check_s = time.monotonic() - t0
        print(f"perfbench workload={args.workload} seed={args.seed} "
              f"trace={args.trace} nproc={nproc} seconds={args.seconds:g}")
        for t, p in sorted(prov.items()):
            print(f"input {t}: rows={p['rows']} files={p['files']} "
                  f"bytes={p['bytes']}")
        host = res["host"]
        print(f"host: load_before={host['load_before']} "
              f"load_after={host['load_after']} "
              f"cpu_probe_s={host['cpu_probe_s']:.4f} "
              f"input_gen_s={gen_s:.3f} harness_s={harness_s:.3f} "
              f"check_s={check_s:.3f} warmup_s={res['warmup_s']:.3f} "
              f"setups_s={[round(x, 3) for x in res['setup_s']]}")
        warm = {}
        for c in res["calls"]:
            if c["pass"] == 0 and c["ok"]:
                warm.setdefault(c["key"], c["wall_s"])
        for k, xs in sorted(by_kind(timed).items()):
            print(f"call {k}: p50={stats.median(xs):.4f} s n={len(xs)} "
                  f"first={warm.get(k, float('nan')):.4f} s")
        for c in res["calls"]:
            if not c["ok"]:
                print(f"failed: {c['id']}: {c['error']}")
        for x in wrong:
            print(f"wrong: {x}")
        ff = stats.failed_frac(attempted, failed)
        print(f"failed_frac {ff:.4f} ({failed}/{attempted} calls)")
        print(f"wrong_results {len(wrong)}")

        metrics = {}
        if not timed:
            fail("no call succeeded")
        if args.trace == 0:
            for name, (v, unit, n) in end_to_end(res, timed).items():
                print(f"metric {name} {v:.6g} {unit} n={n}")
                metrics[name] = {"value": v, "unit": unit}
            t, p, n = stats.tail([c["wall_s"] for c in timed])
            print(f"call_tail_s {t:.6g} s p={p:.4f} n={n}"
                  + (" (fewer than 20 calls: the maximum)" if p == 1.0
                     else ""))
        else:
            in_bytes = sum(p["bytes"] for p in prov.values())
            with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
                units = {m["name"]: m["unit"]
                         for m in json.load(f)["per_layer"]}
            layers = per_layer(res, timed, rows, in_bytes)
            for name, unit in units.items():
                print(f"layer {name} {layers[name]:.6g} {unit}")
                metrics[name] = {"value": layers[name], "unit": unit}
            acc = accounting(res, timed)
            _, relinked = link_jobs(res)
            print(f"jobs linked by time, not by their call property: "
                  f"{len(relinked)} of {len(res['trace']['jobs'])}")
            for x in acc[:20]:
                print(f"accounting: {x}")
            if acc:
                # per-layer figures that do not add up are not reported
                fail(f"accounting FAILED ({len(acc)} problems, "
                     f"{len(timed)} calls)")
            print(f"accounting ok ({len(timed)} calls)")
            trace_dir = os.path.join(build_dir, "perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(
                    trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(res["trace"]["spans"], f)
        print(json.dumps({"correct": not wrong, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
