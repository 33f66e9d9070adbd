#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 kgbench/selftest.py

1. Plants one extra triple (kg_bulk) and one extra pair (dedup_neardup) in
   every output: each run must report failed_frac > 0 and exit non-zero.
2. Runs the benchmark in a directory holding only BENCHMARK.json and
   kgbench/: it must exit non-zero without printing a report.

Exit status 0 means every check caught what it should.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SECONDS = 3


def main():
    ok = True
    for workload, what in [("kg_bulk", "one planted triple"), ("dedup_neardup", "one planted pair")]:
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
             "--seconds", str(SECONDS), "--trace", "0", "--perturb", "1"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        r = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        frac = r["failed"] / r["attempted"] if r else None
        caught = p.returncode != 0 and r is not None and frac > 0 and not r["correct"]
        print(f"{workload} with {what}: exit {p.returncode}, failed_frac {frac} -> "
              f"{'caught' if caught else 'NOT caught'}")
        ok &= caught

    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "kgbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "kg_bulk", "--seed", "1", "--seconds", "1",
         "--trace", "0"], cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=180)
    refused = p.returncode != 0 and not p.stdout.strip()
    print(f"benchmark files alone: exit {p.returncode}, output {p.stdout.strip()[:60]!r} -> "
          f"{'refused' if refused else 'NOT refused'}")
    ok &= refused
    shutil.rmtree(bare, ignore_errors=True)
    print("self-test passed" if ok else "self-test FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
