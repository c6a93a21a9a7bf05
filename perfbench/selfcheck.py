#!/usr/bin/env python3
"""Tiny-scale self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload at sf0.001 (1,000 docs) twice: as is, where every
result must match the oracle (error rate 0), and with
``--inject-mismatch``, which corrupts the first checked result — the
run must then count a failure and report ``correct: false``. This
proves the oracle check fires. Exits 0 when both hold for every
workload. Run from the repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "serve", "churn")


def run(workload: str, inject: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", "0", "--docs", "1000"]
    if inject:
        cmd.append("--inject-mismatch")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ok = True
    for w in WORKLOADS:
        clean, bad = run(w, False), run(w, True)
        rate = clean["failed"] / clean["attempted"]
        bad_rate = bad["failed"] / bad["attempted"]
        passed = (clean["correct"] and rate == 0
                  and not bad["correct"] and bad["failed"] >= 1)
        ok &= passed
        print(f"{w}: error_rate {rate:.4g} ({clean['failed']}/{clean['attempted']}), "
              f"injected {bad_rate:.4g} ({bad['failed']}/{bad['attempted']}) "
              f"-> {'ok' if passed else 'FAIL'}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
