#!/usr/bin/env python3
"""Engine benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {build,serve,churn} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It generates its inputs from the seed,
starts a local[4] Spark session, sets up (corpus, oracle, JVM warm-up,
prebuilt index), measures a closed loop for ``--seconds`` and checks
results against the pure-Python oracle. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. Lines before it print every
metric under its workload-specific name, with its unit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WATCHDOG_S = 140  # leaves time to stop the JVM inside the 180 s limit


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def jvm_peak_rss_mb() -> float:
    """High-water RSS of the Spark JVM (its heap grows with GC timing,
    so it is reported, not gated)."""
    from workloads import jvm_process

    proc = jvm_process()
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def end_to_end(run, res: dict) -> dict[str, float]:
    """The driver process serves ``topk`` and holds the engine's caches;
    its peak RSS is the gated memory metric. ``work_per_s`` is printed,
    not gated (see README)."""
    eng = res["eng"]
    return {
        "setup_s": run.window_start - run.t0,
        "work_per_s": res["work_per_s"],
        "latency_p50_ms": statistics.median(res["lat_s"]) * 1e3,
        "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "index_bytes_per_posting": (
            storage_metrics(eng)["index.storage.bytes_per_posting"] if eng else 0.0),
    }


def tail(lat: list[float]) -> tuple[str, float]:
    """Highest of p99/p90 with at least ten samples beyond it, else the
    max — reported with the sample count, not gated."""
    for q in (99, 90):
        if len(lat) * (100 - q) / 100 >= 10:
            return f"p{q}", percentile(lat, q) * 1e3
    return "max", max(lat) * 1e3


def storage_metrics(eng) -> dict[str, float]:
    import pyarrow.dataset as ds

    m = eng.manifest
    epoch = int(m["epoch"])
    size = 0
    for dirpath, _, files in os.walk(eng.store.postings_dir_for(epoch)):
        size += sum(os.path.getsize(os.path.join(dirpath, f))
                    for f in files if f.endswith(".parquet"))
    postings = int(ds.dataset(eng.store.term_stats_dir_for(epoch), format="parquet")
                   .to_table(columns=["df"])["df"].to_numpy().sum())
    return {"index.storage.postings_mb": size / 1e6,
            "index.storage.postings": postings,
            "index.storage.bytes_per_posting": size / max(1, postings),
            "index.storage.n_segments": int(m.get("n_segments", 1))}


def layer_metrics(run, res: dict, event_dir: str) -> dict[str, float]:
    import spans as sp

    spans = run.tracer.spans
    out: dict[str, float] = {}
    builds = [s for s in spans if s["name"] == "index.build" and s["phase"] == "build"]
    out["index.build.wall_s"] = statistics.median(
        s["end"] - s["start"] for s in builds) if builds else 0.0
    if res["eng"] is not None:
        out.update(storage_metrics(res["eng"]))
        out["query.engine.driver_fallbacks"] = res["eng"].driver_fallbacks
    out.update(sp.query_layer_metrics(spans))
    appends = sp.span_seconds(spans, "index.merge.append")
    if appends:
        out["index.merge.append_s"] = statistics.median(appends)
    for name in ("plan", "exec"):
        out[f"query.scoring.{name}_s"] = sum(sp.span_seconds(spans, f"query.scoring.{name}"))

    phases = sp.read_event_log(event_dir)
    per = {"build": max(1, len(builds)), "append": max(1, len(appends)), "batch": 1}
    keep = {"build": ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                      "shuffle_write_mb", "spill_mb"),
            "append": ("jobs", "tasks", "executor_run_s"),
            "batch": ("jobs", "tasks", "executor_run_s", "shuffle_read_mb")}
    for phase, names in keep.items():
        p = phases.get(phase)
        if p is None:
            continue
        for n in names:
            out[f"spark.{phase}.{n}"] = p[n] / per[phase]
        if phase == "build":
            for site, secs in p["job_run_s"].items():
                out[f"spark.build.job_run_s.{site}"] = secs / per[phase]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size (default: per workload, see workloads.DOCS)")
    ap.add_argument("--inject-mismatch", action="store_true",
                    help="corrupt the first checked result (self-check)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, HERE)
    import spans as sp
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)
    tracer = sp.Tracer() if args.trace else sp.NullTracer()
    if args.trace:
        sp.install(tracer)
    n_docs = args.docs or wl.DOCS[args.workload]
    run = wl.Run(T0, wl.Inputs(args.seed, n_docs), args.seconds, work, tracer,
                 args.inject_mismatch)
    try:
        try:
            res = wl.WORKLOADS[args.workload](run, event_dir)
            e2e = end_to_end(run, res)
            run.summary["jvm_peak_rss_mb"] = (jvm_peak_rss_mb(), "MB")
            q, value = tail(res["lat_s"])
            alias = res["names"].get("latency_p50_ms", ("latency_p50_ms",))[0]
            run.summary[alias.replace("p50", q)] = (
                value, f"ms (of {len(res['lat_s'])} samples)")
        finally:
            if run.spark is not None:
                wl.stop_session(run.spark)
            signal.alarm(0)
        layers = layer_metrics(run, res, event_dir) if args.trace else {}
        if args.trace:
            tracer.write(os.path.join(HERE, ".out",
                                      f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    rate = run.failed / max(1, run.attempted)
    label = "traced" if args.trace else "untraced"
    for name, value in e2e.items():
        alias, unit = res["names"].get(name, (name, units.get(name, "")))
        print(f"{args.workload} {label}: {alias} = {value:.6g} {unit}")
    print(f"{args.workload} {label}: error_rate = {rate:.6g} "
          f"({run.failed} of {run.attempted} ops)")
    for name, (value, unit) in run.summary.items():
        print(f"{args.workload} {label}: {name} = {value:.6g} {unit}")
    for name in sorted(layers):
        print(f"{args.workload} layer: {name} = {layers[name]:.6g} {units.get(name, '')}")

    values = {**e2e, **layers}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
