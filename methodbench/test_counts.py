"""Checks that the traced run's counts repeat exactly: two traced
freq_heavy runs with the same seed must report identical counts —
ledger commits, Spark jobs, stages and tasks, listed files and stale
outputs.

    python3 methodbench/test_counts.py [--seed 1] [--seconds 10]

Exits 0 when they match, 1 otherwise.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def traced(seed, seconds):
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", "freq_heavy", "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, result
    return {k: m["value"] for k, m in result["metrics"].items() if m["unit"] == "count"}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    a = p.parse_args()
    first, second = traced(a.seed, a.seconds), traced(a.seed, a.seconds)
    for k in sorted(first):
        print(f"{k:34s} {first[k]:>10} {second.get(k)!s:>10}"
              f"{'' if first[k] == second.get(k) else '  DIFFERS'}")
    bad = [k for k in first if first[k] != second.get(k)]
    if bad or not first:
        print(f"FAIL: counts differ between two traced runs: {bad}")
        return 1
    print(f"ok: {len(first)} counts repeat exactly")
    return 0


if __name__ == "__main__":
    sys.exit(main())
