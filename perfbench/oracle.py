#!/usr/bin/env python3
"""Expected results: SparkEntry.oracleSql evaluated in DuckDB.

Comparison rules are those of tools/compare_oracle.py: columns sorted by
name, the same column names and row count, every cell rendered with
repr() after the pandas load, rows compared as a multiset (exact, so
doubles match bit for bit). A result is cached under a digest of the
input files and the SQL text, so runs on the same inputs evaluate it
once.

q_kmeans_clusters (Spark-ML k-means, no portable oracle) is checked by
properties instead: 5 distinct clusters, min <= max per cluster, each
label rendering its own min and max, and DuckDB's global min and max of
`change` appearing as some cluster's min and some cluster's max.

As a command it recomputes a workload's expected results from scratch:
    python3 perfbench/oracle.py --workload curation --seed 3
"""
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PROPERTY_CHECKED = {"q_kmeans_clusters": "q_change_per_entity"}


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.sql("SET threads=4")
    con.sql("SET memory_limit='4GB'")
    os.makedirs(tmp_dir, exist_ok=True)
    con.sql(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def canon(df):
    """(sorted column names, sorted rows of repr strings): the
    compare_oracle.py rendering, as a value that compares exactly."""
    cols = sorted(df.columns)
    df = df[cols]
    rendered = [df[c].map(lambda v: repr(v)).tolist() for c in cols]
    return cols, sorted(zip(*rendered)) if cols else []


def digest_dir(data_dir):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(data_dir)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, data_dir).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def expected(con, input_digest, queries, sql, cache_dir, fresh=False):
    """query -> expected value: ("rows", cols, rows) or, for a
    property-checked query, ("kmeans", global_min, global_max)."""
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for q in queries:
        text = sql[PROPERTY_CHECKED.get(q, q)]
        key = hashlib.sha256(f"{input_digest}\n{q}\n{text}".encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.json")
        if os.path.exists(path) and not fresh:
            with open(path) as f:
                out[q] = json.load(f)
            continue
        if q == "q_kmeans_clusters":
            lo, hi = con.sql(f"SELECT min(change), max(change) FROM ({text})").fetchone()
            val = ["kmeans", lo, hi]
        else:
            cols, rows = canon(con.sql(text).df())
            val = ["rows", cols, [list(r) for r in rows]]
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(val, f)
        os.replace(tmp, path)
        out[q] = val
    return out


def check(result_dir, want):
    """None if the engine's parquet result matches, else the reason."""
    got = pq.read_table(result_dir).to_pandas()
    if want[0] == "kmeans":
        return _check_kmeans(got, want[1], want[2])
    _, wcols, wrows = want
    gcols, grows = canon(got)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"rows {len(grows)} != {len(wrows)}"
    wrows = [tuple(r) for r in wrows]
    if grows != wrows:
        bad = next(i for i, (g, w) in enumerate(zip(grows, wrows)) if g != w)
        return f"value mismatch: got {grows[bad]} want {wrows[bad]}"
    return None


def _check_kmeans(got, lo, hi):
    if sorted(got.columns) != ["cluster", "label", "max_v", "min_v"]:
        return f"columns {sorted(got.columns)}"
    if len(got) != 5 or got["cluster"].nunique() != 5:
        return f"{got['cluster'].nunique()} distinct clusters in {len(got)} rows, want 5"
    for r in got.itertuples():
        if not r.min_v <= r.max_v:
            return f"cluster {r.cluster}: min {r.min_v} > max {r.max_v}"
        if r.label != f"{r.min_v:,.3f} - {r.max_v:,.3f}":
            return f"cluster {r.cluster}: label {r.label!r} does not render {r.min_v}, {r.max_v}"
    if lo not in set(got["min_v"]) or hi not in set(got["max_v"]):
        return f"global change range [{lo}, {hi}] is not a cluster min and max"
    return None


if __name__ == "__main__":
    import argparse
    import run
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="use the self-check scale instead of the benchmark scale")
    a = ap.parse_args()
    w = run.WORKLOADS[a.workload]
    bdir = run.build()
    data = run.inputs(w, a.seed, a.selfcheck)
    sql = run.oracle_sql(bdir)
    con = connect(data, os.path.join(run.WORK, "duckdb-tmp"))
    exp = expected(con, digest_dir(data), w["queries"], sql,
                   os.path.join(run.WORK, "expected"), fresh=True)
    for q in w["queries"]:
        v = exp[q]
        print(q, f"{len(v[2])} rows" if v[0] == "rows" else f"change range [{v[1]}, {v[2]}]")
