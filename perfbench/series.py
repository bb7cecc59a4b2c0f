#!/usr/bin/env python3
"""Run the benchmark over several seeds and record every result.

    python3 perfbench/series.py --out runs.jsonl --seeds 1-10 [--workloads a,b] [--trace 0]

Each line of the output holds one run: workload, seed, trace flag, the
environment record and the result object run.py printed. Feed one or
two such files to compare.py.
"""
import argparse
import json
import os
import subprocess
import sys
import time

PB = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    with open(os.path.join(os.path.dirname(PB), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t = time.time()
            p = subprocess.run([sys.executable, os.path.join(PB, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)],
                               stdout=subprocess.PIPE, text=True, timeout=1000)
            lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
            rec = {"workload": w, "seed": s, "trace": a.trace, "exit": p.returncode,
                   "wall_s": round(time.time() - t, 1),
                   "env": next((l["env"] for l in lines if "env" in l), None),
                   "result": lines[-1] if lines and "metrics" in lines[-1] else None}
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            m = rec["result"]["metrics"] if rec["result"] else {}
            print(w, s, rec["wall_s"], "s", {k: round(v["value"], 3) for k, v in m.items()},
                  flush=True)


if __name__ == "__main__":
    main()
