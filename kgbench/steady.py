#!/usr/bin/env python3
"""Steadiness check: two independent sets of ten runs of one checkout, compared.

    python3 kgbench/steady.py [--workloads kg_bulk,dedup_neardup]

Each set runs every workload (default: all of BENCHMARK.json's) ten
times, each run with its own seed, for BENCHMARK.json's run_seconds. For
every end-to-end metric it reports the median, the quartiles
(statistics.quantiles(n=4)), the spread (q3 - q1) / median, and for the
second set the ratio of its median to the first set's. Each spread must
stay within the metric's bound, and the second median may not be worse
than the first by more than the bound. The table goes to stderr and the
figures, beside the per-run metrics, to .bench_build/steady.json. Exit
status 1 means a check failed or a run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUNS = 10
SETS = 2
SEED = 100


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return {"median": m, "q1": q1, "q3": q3, "spread": (q3 - q1) / m if m else float("inf")}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    runs = {}  # (set, workload) -> [report]
    ok = True
    for s in range(SETS):
        for i in range(RUNS):
            for w in workloads:
                seed = SEED + 1000 * s + i
                r = run_once(w, seed, seconds)
                if r is None or not r["correct"] or r["failed"]:
                    print(f"set {s} {w} seed {seed}: run failed", file=sys.stderr)
                    ok = False
                    continue
                runs.setdefault((s, w), []).append(r)
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                print(f"set {s} {w} seed {seed}: {vals}", file=sys.stderr)

    out = {"runs": RUNS, "seconds": seconds, "workloads": {}}
    for w in workloads:
        first = None
        out["workloads"][w] = []
        for s in range(SETS):
            rs = runs.get((s, w), [])
            if len(rs) < 2:
                ok = False
                continue
            metrics = {}
            for m, b in bounds.items():
                vals = [r["metrics"][m]["value"] for r in rs]
                st = summary(vals)
                st["values"] = vals
                if first is not None:
                    st["ratio_to_first"] = st["median"] / first[m]["median"]
                metrics[m] = st
                ratio = st.get("ratio_to_first", 1.0)
                worse = ratio - 1 if b["better"] == "lower" else 1 - ratio
                flags = []
                if st["spread"] > b["bound"]:
                    flags.append("SPREAD")
                if worse > b["bound"]:
                    flags.append("DRIFT")
                ok &= not flags
                if st["spread"] > b["bound"] / 3:
                    flags.append("(over 1/3 bound)")
                print(f"{w:16s} set {s} {m:18s} median {st['median']:.5g} q1 {st['q1']:.5g} q3 {st['q3']:.5g} "
                      f"spread {st['spread']:.3f} bound {b['bound']} ratio {ratio:.3f} " + " ".join(flags),
                      file=sys.stderr)
            if first is None:
                first = metrics
            out["workloads"][w].append(metrics)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as f:
        json.dump(out, f, indent=1)
    print("steady" if ok else "NOT steady", file=sys.stderr)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
