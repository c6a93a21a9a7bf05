"""Spans and Spark event-log metrics for the traced benchmark run.

The tracer wraps the engine's public layer functions from outside the
program (module attributes are swapped, nothing in ``super_rag_spark``
is edited), keeps every span in memory and writes them out once at the
end. Spark-side work is read back from the event log of the session the
benchmark creates: jobs are tagged with the benchmark phase through a
local property, so build, append and batch-scoring jobs are told apart.
"""

from __future__ import annotations

import ast
import json
import os
import re
import time
from contextlib import contextmanager

PHASE_PROPERTY = "perfbench.phase"


class Tracer:
    """In-memory span recorder. A span has a name, a start and an end,
    the span that caused it (``parent``) and the root span of its
    request (``req``); ``phase`` is the benchmark phase it ran in."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next_id, "name": name, "phase": self.phase,
               "parent": parent["id"] if parent else None,
               "req": parent["req"] if parent else self._next_id,
               "start": time.perf_counter(), "end": None}
        self._next_id += 1
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer:
    """Untraced runs: same interface, records nothing."""

    phase = "setup"

    @contextmanager
    def span(self, name: str):
        yield {}


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points the driver-side query path calls.

    ``codec.decode_blocks_batch`` and ``wand.vectorized_topk_arrays`` are
    imported by the engine at call time, so swapping the module
    attribute is enough; ``wand_topk`` and ``build_index`` are bound
    into ``engine`` at import, so they are swapped there."""
    from super_rag_spark import codec
    from super_rag_spark.query import engine, wand

    decode = codec.decode_blocks_batch

    def traced_decode(blocks):
        with tracer.span("codec.decode") as s:
            out = decode(blocks)
            s["postings"] = int(len(out[0]))
            return out

    codec.decode_blocks_batch = traced_decode

    score_arrays = wand.vectorized_topk_arrays

    def traced_score_arrays(term_arrays, *args, **kwargs):
        with tracer.span("query.wand.score") as s:
            s["postings"] = int(sum(len(v[1]) for v in term_arrays.values()))
            s["terms"] = len(term_arrays)
            return score_arrays(term_arrays, *args, **kwargs)

    wand.vectorized_topk_arrays = traced_score_arrays

    wand_topk = engine.wand_topk

    def traced_wand_topk(term_blocks, *args, **kwargs):
        with tracer.span("query.wand.score") as s:
            s["postings"] = int(sum(blk["n"] for _, bl in term_blocks.values()
                                    for blk in bl))
            s["terms"] = len(term_blocks)
            return wand_topk(term_blocks, *args, **kwargs)

    engine.wand_topk = traced_wand_topk
    engine._TOPK_METHODS["wand"] = traced_wand_topk

    topk = engine.BM25Engine.topk

    def traced_topk(self, *args, **kwargs):
        with tracer.span("query.engine.topk"):
            return topk(self, *args, **kwargs)

    engine.BM25Engine.topk = traced_topk

    warm_new_epoch = engine.BM25Engine._warm_new_epoch

    def traced_warm_new_epoch(self, old_epoch):
        with tracer.span("query.engine.warm_new_epoch"):
            return warm_new_epoch(self, old_epoch)

    engine.BM25Engine._warm_new_epoch = traced_warm_new_epoch

    build_index = engine.build_index

    def traced_build_index(*args, **kwargs):
        with tracer.span("index.build"):
            return build_index(*args, **kwargs)

    engine.build_index = traced_build_index
    _record_io_call_sites()


def _record_io_call_sites() -> None:
    """PySpark records a Python call site for actions (``collect at
    build.py:645``) but not for DataFrame reads and writes, whose jobs
    then carry none. Set it the same way around ``parquet``/``save``."""
    import traceback

    import pyspark
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    skip = (os.path.dirname(pyspark.__file__), os.path.dirname(os.path.abspath(__file__)))

    def wrap(cls, method):
        fn = getattr(cls, method)

        def with_call_site(self, *args, **kwargs):
            frame = next((f for f in reversed(traceback.extract_stack())
                          if not f.filename.startswith(skip)), None)
            jsc = self._spark.sparkContext._jsc
            if frame is not None:
                jsc.setCallSite(f"{method} at {frame.filename}:{frame.lineno}")
            try:
                return fn(self, *args, **kwargs)
            finally:
                jsc.setCallSite(None)

        setattr(cls, method, with_call_site)

    wrap(DataFrameReader, "parquet")
    wrap(DataFrameWriter, "parquet")
    wrap(DataFrameWriter, "save")


def _dur_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1e3


def query_layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Driver query-path metrics over every ``topk`` of the run outside
    set-up (whose cache warm-up queries are not served traffic).

    Times are means per ``topk`` call, so ``topk_self_ms + decode_ms +
    score_ms == topk_ms`` holds exactly: self time is the topk span
    minus every decode and score span under it (they never nest in one
    another on the decoded-arrays path)."""
    spans = [s for s in spans if s["phase"] != "setup"]
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s

    topks = [s for s in spans if s["name"] == "query.engine.topk"]
    n = max(1, len(topks))
    decode = score = 0.0
    decode_calls = postings_decoded = terms_decoded = 0
    scored = query_terms = 0
    under_topk_ms: dict[int, float] = {}
    after_append: list[float] = []
    for s in spans:
        anc = list(ancestors(s))
        root = next((a for a in anc if a["name"] == "query.engine.topk"), None)
        if s["name"] == "codec.decode":
            decode += _dur_ms(s)
            decode_calls += 1
            postings_decoded += s["postings"]
            # an epoch switch re-decodes the old hot set: that is not a
            # cache miss of the query being served
            if not any(a["name"] == "query.engine.warm_new_epoch" for a in anc):
                terms_decoded += 1
        elif s["name"] == "query.wand.score":
            score += _dur_ms(s)
            scored += s["postings"]
            query_terms += s["terms"]
        else:
            if s["name"] == "query.engine.warm_new_epoch" and root is not None:
                after_append.append(_dur_ms(root))
            continue
        if root is not None:
            under_topk_ms[root["id"]] = under_topk_ms.get(root["id"], 0.0) + _dur_ms(s)
    topk_ms = sum(_dur_ms(s) for s in topks)
    out = {
        "query.engine.topk_calls": len(topks),
        "query.engine.topk_ms": topk_ms / n,
        "query.engine.topk_self_ms": (topk_ms - sum(under_topk_ms.values())) / n,
        "query.engine.terms_decoded": terms_decoded,
        "query.engine.query_terms_with_df": query_terms,
        "query.engine.decode_hit_ratio": (
            1.0 - terms_decoded / query_terms if query_terms else 0.0),
        "codec.decode_ms": decode / n,
        "codec.decode_calls": decode_calls,
        "codec.postings_decoded": postings_decoded,
        "query.wand.score_ms": score / n,
        "query.wand.postings_scored": scored,
    }
    if after_append:
        out["query.engine.first_query_after_append_ms"] = sum(after_append) / len(after_append)
    return out


def span_seconds(spans: list[dict], name: str) -> list[float]:
    return [(s["end"] - s["start"]) for s in spans if s["name"] == name]


# ------------------------------------------------------------ event log
_CALLSITE = re.compile(r"^\S+ at (.+):(\d+)$")
_FUNC_CACHE: dict[str, list[tuple[int, int, str]]] = {}


def _enclosing_function(path: str, line: int) -> str:
    """Name of the innermost function around ``path:line`` — a call-site
    key that survives edits that only move lines."""
    if path not in _FUNC_CACHE:
        try:
            with open(path) as f:
                tree = ast.parse(f.read())
        except (OSError, SyntaxError):
            tree = None
        _FUNC_CACHE[path] = [
            (n.lineno, n.end_lineno, n.name) for n in ast.walk(tree or ast.Module(body=[]))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    inner = [(lo, hi, name) for lo, hi, name in _FUNC_CACHE[path] if lo <= line <= hi]
    return max(inner)[2] if inner else "module"


def callsite_key(callsite: str) -> str:
    """``collect at /x/super_rag_spark/index/build.py:645`` ->
    ``build.build_index``; letters, digits, ``_``, ``.``, ``-`` only."""
    m = _CALLSITE.match(callsite or "")
    if not m:
        return "none"
    path, line = m.group(1), int(m.group(2))
    mod = os.path.splitext(os.path.basename(path))[0]
    return re.sub(r"[^A-Za-z0-9_.-]", "_", f"{mod}.{_enclosing_function(path, line)}")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-phase Spark totals from the event log(s) under ``log_dir``:
    jobs, tasks, executor run/CPU/GC seconds, shuffle and spill MB, and
    job wall seconds per call site."""
    jobs: dict[int, tuple[str, str, float]] = {}  # job -> (phase, site, submit ms)
    stage_phase: dict[int, str] = {}
    phases: dict[str, dict] = {}

    def ph(name: str) -> dict:
        return phases.setdefault(name, {
            "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "job_run_s": {}})

    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    phase = props.get(PHASE_PROPERTY, "other")
                    jobs[ev["Job ID"]] = (phase, callsite_key(props.get("callSite.short", "")),
                                          ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[sid] = phase
                    ph(phase)["jobs"] += 1
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    phase, site, submit = jobs[ev["Job ID"]]
                    runs = ph(phase)["job_run_s"]
                    runs[site] = runs.get(site, 0.0) + (ev["Completion Time"] - submit) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    p = ph(stage_phase.get(ev["Stage ID"], "other"))
                    p["tasks"] += 1
                    p["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    p["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    p["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    sr = m.get("Shuffle Read Metrics") or {}
                    p["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / 1e6
                    p["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 1e6
    return phases
