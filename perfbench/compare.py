#!/usr/bin/env python3
"""Compare sets of benchmark runs against the bounds in BENCHMARK.json.

    python3 perfbench/compare.py runs.jsonl              # one set: spreads
    python3 perfbench/compare.py base.jsonl change.jsonl  # two sets

For each workload and end-to-end metric it prints the median and the
quartiles of each set (statistics.quantiles, n=4), the spread (quartile
distance over the median), and whether it agrees with the bound:
  - one set: the spread is within the bound;
  - two sets: also the second median is not worse than the first by
    more than the bound, and the failed share is the same.
Runs are never dropped or repeated: the steal and load columns are there
to attribute a disturbed set, the same way for every commit.
Exit code 1 if any row disagrees.
"""
import json
import os
import statistics
import sys

PB = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("trace") == 0:
                runs.setdefault(r["workload"], []).append(r)
    return runs


def stats(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(os.path.dirname(PB), "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = [load(p) for p in sys.argv[1:3]]
    if not sets:
        sys.exit(__doc__)
    ok = True
    hdr = f"{'workload':11s} {'metric':13s} {'bound':>5s}"
    for i in range(len(sets)):
        hdr += f" | {'median':>9s} {'q1':>9s} {'q3':>9s} {'spread':>6s}"
    print(hdr + (" | ratio" if len(sets) == 2 else "") + " | verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        if not all(w in s for s in sets):
            print(f"{w:11s} (no runs)")
            ok = False
            continue
        fails = []
        for s in sets:
            res = [r["result"] for r in s[w]]
            bad = sum(1 for r in res if r is None or not r["correct"])
            att = sum(r["attempted"] for r in res if r)
            fld = sum(r["failed"] for r in res if r)
            fails.append((fld / att if att else None, bad))
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            row = f"{w:11s} {name:13s} {bound:5.2f}"
            verdict = []
            meds = []
            for s in sets:
                vals = [r["result"]["metrics"][name]["value"] for r in s[w] if r["result"]]
                med, q1, q3, spread = stats(vals)
                meds.append(med)
                row += f" | {med:9.4g} {q1:9.4g} {q3:9.4g} {spread:6.3f}"
                if spread > bound:
                    verdict.append("spread")
            if len(sets) == 2:
                worse = meds[1] / meds[0] - 1 if m["better"] == "lower" else meds[0] / meds[1] - 1
                row += f" | {meds[1] / meds[0]:5.3f}"
                if worse > bound:
                    verdict.append("worse")
            row += " | " + ("agree" if not verdict else "DISAGREE: " + ",".join(verdict))
            ok &= not verdict
            print(row)
        steal = [statistics.median(sum(r["env"]["steal_s"]) for r in s[w] if r["env"]) for s in sets]
        print(f"{w:11s} failed share {[f[0] for f in fails]}, incorrect runs {[f[1] for f in fails]}, "
              f"median steal per run {[round(x, 1) for x in steal]} s")
        if len({f[0] for f in fails}) > 1 or any(f[1] for f in fails):
            ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
