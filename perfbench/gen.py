"""Seeded inputs for the graft benchmark.

Every table has the schema of the repository's test data (TESTDATA.md), so
the SparkEntry queries and their DuckDB oracles run on it unchanged. The
rows come from tools/gen_sf.py's generator functions, fed a numpy rng
seeded with the benchmark's seed; gen_sf.py itself stays seed-42 tooling
and is not edited.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
import gen_sf  # noqa: E402


def corpus(seed, docs, vectors):
    """`docs` documents (about 5 % near-duplicates) and `vectors`
    64-dimensional embeddings."""
    rng = np.random.default_rng(seed)
    return {"documents": gen_sf.gen_documents(rng, docs),
            "embeddings": gen_sf.gen_embeddings(rng, vectors)}


def events(seed, n, days):
    """gen_sf's events (n rows, users ~ n/67) with their arrival times
    squeezed from its 30-day window into `days` days: the detectors' hourly
    series, and the DuckDB Holt-Winters oracle's recursion over them,
    shrink with the span."""
    rng = np.random.default_rng(seed)
    t = gen_sf.gen_events(rng, n, max(10, n // 67))
    base = np.datetime64("2024-01-01T00:00:00.000000")
    ts = base + (t.column("ts").to_numpy() - base) * days // 30
    return {"events": t.set_column(t.schema.get_field_index("ts"), "ts",
                                   pa.array(ts))}


def write(tables, out, parts=1):
    """Write each table to `<out>/<name>.parquet`: one file when
    `parts` is 1, else a directory of `parts` part files (gen_sf's
    multi-file layout). Returns per-table rows, files and bytes."""
    prov = {}
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        if parts == 1:
            pq.write_table(t, path)
            files = [path]
        else:
            gen_sf.write_parts(t, path, -(-t.num_rows // parts))
            files = [os.path.join(path, f) for f in sorted(os.listdir(path))]
        prov[name] = {"rows": t.num_rows, "files": len(files),
                      "bytes": sum(os.path.getsize(f) for f in files)}
    return prov


def scan_glob(out, name):
    """The DuckDB scan expression for a table `write` produced."""
    path = os.path.join(out, f"{name}.parquet")
    return f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
