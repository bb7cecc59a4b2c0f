#!/usr/bin/env python3
"""graft benchmark: one workload, end-to-end or traced.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, evaluates the expected
results in DuckDB, runs one engine process that sets up (timed from
its launch), does a cold pass, one untimed warm pass and timed warm
passes for --seconds, checks every query result, and prints as its
last line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

PB = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PB)
WORK = os.path.join(PB, ".work")
CORES = min(4, os.cpu_count() or 1)

# k: replicas of the relational tables, k_docs: of documents/embeddings
# (the base holds sf0.001 relational tables and sf0.01-sized documents).
# query_p50_s is the median of the pooled timed executions, where each
# query's executions sit together; the relational list is built so the
# median falls among several short queries of like cost, not at the
# edge between one query's times and the next's.
WORKLOADS = {
    "relational": {
        "k": 50, "k_docs": 1, "heap": "3g",
        "queries": ["q_change_per_entity", "q_sum_by_flag", "q_filter_or", "q_label_agg",
                    "q_join_enrich", "q_asof_exec", "q_tpch_q1", "q_tpch_q3", "q_kmeans_clusters"],
    },
    "curation": {
        "k": 1, "k_docs": 1, "heap": "2g",
        "queries": ["q_dedup_minhash_pairs", "q_dup_degree", "q_token_budget",
                    "q_ann_pq", "q_lm_quality"],
    },
}

UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
         "cpu_s": "s", "heap_peak_mb": "MB"}
# graft source files whose jobs are reported one by one; the rest of
# the call sites add up in site.other
SITES = ["SparkEntry", "Tables", "Similarity", "Clustering", "PairFunnel",
         "Staging", "Dedup", "sink"]
# Per-layer metrics of one warm pass (medians over timed passes). Job
# time per call site and staging time are shares of the pass wall time:
# on a workload that never reaches a layer they stay 0, and a share of 0
# is a count, not a time that reads the same on every run.
LAYERS = (["entry.build_s", "entry.action_s", "entry.share", "plan.s",
           "plan.executions", "codegen.compiles", "jvm.jit_s", "jvm.gc_s",
           "driver.jobs", "driver.stages", "driver.tasks", "driver.gap_s",
           "driver.result_mb"]
          + [f"site.{s}.{m}" for s in SITES + ["other"] for m in ("jobs", "job_share")]
          + ["shared.funnel_builds", "shared.fit_builds", "shared.attributed_builds",
             "staging.jobs", "staging.share", "staging.peak_mb",
             "exec.cpu_s", "exec.run_s", "exec.utilization",
             "shuffle.write_mb", "shuffle.read_mb", "spill.disk_mb", "spill.mem_mb",
             "sources.scan_mb", "sources.scan_rows", "sources.write_mb"])
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source digest; returns the
    build directory holding `classpath` and `oracle_sql.json`."""
    srcs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(PB, "build.sbt"),
            os.path.join(PB, "project", "build.properties"), os.path.join(PB, "src")]
    missing = [p for p in srcs if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"cannot build: missing {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    os.makedirs(WORK, exist_ok=True)
    bdir = os.path.join(WORK, "build", _tree_digest(srcs))
    if os.path.exists(os.path.join(bdir, "classpath")):
        return bdir
    log("building engine and harness (sbt, offline)")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Dsbt.offline=true -Djava.io.tmpdir={tmp}".strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=PB, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cp = lines[-1].strip().split(os.pathsep)
    # snapshot the compiled classes: a later compile in the tree can
    # then never swap classes under a running benchmark
    tmp = bdir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    snap = []
    for i, e in enumerate(cp):
        if os.path.isdir(e):
            d = os.path.join(tmp, f"classes{i}")
            shutil.copytree(e, d)
            snap.append(os.path.join(bdir, f"classes{i}"))
        else:
            snap.append(e)
    for old in os.listdir(os.path.dirname(bdir)):
        if not old.endswith(".tmp"):
            shutil.rmtree(os.path.join(os.path.dirname(bdir), old), ignore_errors=True)
    os.replace(tmp, bdir)
    with open(os.path.join(bdir, "classpath.tmp"), "w") as f:
        f.write(os.pathsep.join(snap))
    java(bdir, ["--mode", "oracle-sql", "--out", os.path.join(bdir, "oracle_sql.json")],
         cp=os.pathsep.join(snap), heap="1g", timeout=120)
    os.replace(os.path.join(bdir, "classpath.tmp"), os.path.join(bdir, "classpath"))
    return bdir


def java(bdir, args, cp=None, heap="2g", timeout=170, log_name="harness.log"):
    if cp is None:
        with open(os.path.join(bdir, "classpath")) as f:
            cp = f.read()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPENS +
           [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dorg.xerial.snappy.tempdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Harness"] + args)
    with open(os.path.join(WORK, log_name), "w") as err:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"engine process exceeded {timeout} s")
    if p.returncode != 0:
        with open(os.path.join(WORK, log_name)) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"engine process failed with exit code {p.returncode}")
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def oracle_sql(bdir):
    with open(os.path.join(bdir, "oracle_sql.json")) as f:
        return json.load(f)


def inputs(w, seed, selfcheck=False):
    """Generate (or reuse) the seeded inputs; returns their directory."""
    import gen
    # the self-check runs the base scale, with 2 replicas standing in
    # for every larger replica count
    k, kd = (min(2, w["k"]), min(2, w["k_docs"])) if selfcheck else (w["k"], w["k_docs"])
    name = f"k{k}-d{kd}-s{seed}"
    root = os.path.join(WORK, "inputs")
    d = os.path.join(root, name)
    if not os.path.exists(os.path.join(d, "_done")):
        # keep the inputs of a few recent seeds only
        if os.path.isdir(root):
            old = sorted(os.listdir(root), key=lambda n: os.path.getmtime(os.path.join(root, n)))
            for n in old[:-3]:
                shutil.rmtree(os.path.join(root, n), ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, k, kd)
        open(os.path.join(d, "_done"), "w").close()
    os.utime(d)
    return d


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_workload(w, seed, seconds, trace, selfcheck=False):
    import oracle
    t0 = time.time()
    bdir = build()
    data = inputs(w, seed, selfcheck)
    log(f"inputs ready after {time.time() - t0:.1f} s")
    queries = w["queries"]
    sql = oracle_sql(bdir)
    missing = [q for q in queries if q not in sql and q not in oracle.PROPERTY_CHECKED]
    if missing:
        raise SystemExit(f"no oracle for {missing}")
    con = oracle.connect(data, os.path.join(WORK, "duckdb-tmp"))
    want = oracle.expected(con, oracle.digest_dir(data), queries, sql,
                           os.path.join(WORK, "expected"))
    con.close()
    log(f"expected results ready after {time.time() - t0:.1f} s")

    local = os.path.join(WORK, "spark-local")
    out = os.path.join(WORK, "results")
    for d in (local, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    # set-up is timed from just before the process is started
    lines = java(bdir, ["--mode", "run", "--launch-ms", str(int(time.time() * 1000)),
                        "--data", data, "--out", out, "--queries", ",".join(queries),
                        "--seconds", str(seconds), "--cores", str(CORES), "--local-dir", local,
                        "--trace", str(trace)] +
                 (["--max-passes", "0"] if selfcheck else []), heap=w["heap"])
    log(f"engine process done after {time.time() - t0:.1f} s")
    setup = next(l["setup_s"] for l in lines if "setup_s" in l)
    passes = [l for l in lines if "pass" in l]

    attempted = failed = 0
    errors = []
    for p in passes:
        for r in p["queries"]:
            attempted += 1
            if r["err"] is not None:
                failed += 1
                errors.append(f"pass {p['pass']} {r['q']}: {r['err']}")
                continue
            why = oracle.check(os.path.join(out, f"p{p['pass']}", r["q"]), want[r["q"]])
            if why:
                errors.append(f"pass {p['pass']} {r['q']}: {why}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)
    log(f"outputs checked after {time.time() - t0:.1f} s")
    for e in errors[:20]:
        log(e)
    correct = len(errors) == failed

    warm = [p for p in passes if p["timed"]] or passes
    env = {"wall_s": [round(p["wall_s"], 2) for p in passes],
           "steal_s": [round(p["steal_s"], 2) for p in passes],
           "load1_at_start": round(passes[0]["load1"], 2),
           "gc_s": [round(p["gc_s"], 3) for p in passes],
           "jit_s": [round(p["jit_s"], 3) for p in passes],
           "passes": len(passes)}
    print(json.dumps({"env": env}))
    if trace:
        metrics = {m: median([layers(p).get(m, 0.0) for p in warm]) for m in LAYERS}
        units = {m: unit(m) for m in LAYERS}
    else:
        times = [r["build_s"] + r["action_s"] for p in warm for r in p["queries"]]
        metrics = {
            "setup_s": setup,
            "cold_pass_s": passes[0]["wall_s"],
            "pass_s": median([p["wall_s"] for p in warm]),
            "query_p50_s": median(times),
            "cpu_s": median([p["cpu_s"] for p in warm]),
            "heap_peak_mb": warm[0]["heap_mb"],
        }
        units = UNITS
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()}}


def layers(p):
    """A pass's per-layer values, with the harness's own times added."""
    lay = dict(p["layers"])
    wall = p["wall_s"]
    lay["entry.build_s"] = sum(r["build_s"] for r in p["queries"])
    lay["entry.action_s"] = sum(r["action_s"] for r in p["queries"])
    lay["entry.share"] = (lay["entry.build_s"] + lay["entry.action_s"]) / wall
    lay["jvm.jit_s"] = p["jit_s"]
    lay["jvm.gc_s"] = p["gc_s"]
    lay["staging.share"] = lay.get("staging.s", 0.0) / wall
    for s in SITES + ["other"]:
        lay[f"site.{s}.job_share"] = lay.get(f"site.{s}.job_s", 0.0) / wall
    for k, v in p["layers"].items():
        site, _, m = k[len("site."):].rpartition(".")
        if k.startswith("site.") and site not in SITES + ["other"]:
            if m == "jobs":
                lay["site.other.jobs"] = lay.get("site.other.jobs", 0.0) + v
            else:
                lay["site.other.job_share"] += v / wall
    return lay


def unit(m):
    if m.endswith("_s") or m == "plan.s":
        return "s"
    if m.endswith("_mb"):
        return "MB"
    if m.endswith(("utilization", "share")):
        return "ratio"
    return "rows" if m.endswith("rows") else "count"


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", type=float, default=run_seconds)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="run every workload's list once, all checks, at the smallest scale")
    a = ap.parse_args()
    if a.selfcheck:
        ok = True
        for name, w in WORKLOADS.items():
            r = run_workload(w, a.seed, 0, 0, selfcheck=True)
            ok &= r["correct"] and r["failed"] == 0
            log(f"selfcheck {name}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
        print(json.dumps({"selfcheck": "pass" if ok else "fail"}))
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload is required")
    os.makedirs(WORK, exist_ok=True)
    print(json.dumps(run_workload(WORKLOADS[a.workload], a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
