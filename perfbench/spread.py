#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workloads build serve churn --seeds 1-10 [--trace 0]
    python3 perfbench/spread.py --workloads serve --seeds 1-3 --overhead

Runs ``perfbench/run.py`` once per (workload, seed), one at a time, and
prints per metric the median and the quartile distance as a share of
the median (``statistics.quantiles(values, n=4)``), next to the bound in
BENCHMARK.json, plus each run's wall time. ``--overhead`` runs every
seed untraced and traced and prints the tracing overhead: the median of
each end-to-end number traced minus untraced. Run from the repository
root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int):
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    return proc, time.perf_counter() - t


def overhead(workloads: list[str], seeds: list[int], seconds: int) -> int:
    """Traced minus untraced end-to-end numbers, from the named lines
    run.py prints before its JSON line."""
    line = re.compile(r"^\S+ (traced|untraced): (\S+) = (\S+) (.*)$")
    for w in workloads:
        vals: dict[tuple[str, str], list[float]] = {}
        units: dict[str, str] = {}
        for seed in seeds:
            for trace in (0, 1):
                proc, _ = run_once(w, seed, seconds, trace)
                for m in map(line.match, proc.stdout.splitlines()):
                    if m:
                        vals.setdefault((m.group(2), m.group(1)), []).append(float(m.group(3)))
                        units[m.group(2)] = m.group(4)
        print(f"== {w}: tracing overhead over {len(seeds)} seeds (median traced - untraced)")
        for name in sorted({n for n, _ in vals}):
            t, u = vals.get((name, "traced")), vals.get((name, "untraced"))
            if t and u:
                mt, mu = statistics.median(t), statistics.median(u)
                rel = f" ({(mt - mu) / mu:+.1%})" if mu else ""
                print(f"  {name:28s} untraced {mu:10.4g}  traced {mt:10.4g}  "
                      f"overhead {mt - mu:+10.4g} {units[name]}{rel}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    if args.overhead:
        return overhead(args.workloads, args.seeds, seconds)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    ok = True
    for w in args.workloads:
        rows, walls = [], []
        for seed in args.seeds:
            proc, wall = run_once(w, seed, seconds, args.trace)
            walls.append(wall)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok &= res["correct"]
            rows.append(res)
            print(f"{w} seed {seed}: {walls[-1]:.1f} s wall, failed {res['failed']}"
                  f"/{res['attempted']}", flush=True)
        if len(rows) < 2:
            continue
        print(f"== {w}: {len(rows)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for name in rows[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in rows]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE")
            print(f"  {name:48s} median {med:12.6g}  spread {spread:7.3f}"
                  f"  bound {bound}{flag}  [{' '.join(f'{v:.4g}' for v in vals)}]")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
