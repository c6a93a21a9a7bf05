"""Inputs, Spark session and the workloads of the engine benchmark.

Every input is made from the seed: the corpus is the doc range
``[(seed % SEED_SLOTS) * 1_000_000, + n_docs)`` of ``fixtures.make_doc`` (FIXTURES.md §1
webtext), deltas come from a disjoint range of the same generator, and
query streams are FIXTURES.md §2-style head/mid/tail conjunctions, OOV
terms and ``summarize ...`` queries drawn from ``random.Random(seed)``.
The engine only ever sees the generated tables and query strings.

Results are checked against ``super_rag_spark.oracle`` (top-k doc_ids
identical, scores within 1e-9 relative); the oracle runs in set-up or
after the measured window, never inside it.
"""

from __future__ import annotations

import itertools
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from super_rag_spark.fixtures import (QUERY_SEED, WEBTEXT_SCHEMA,  # noqa: E402
                                      build_vocab, make_doc, zipf_cdf)
from super_rag_spark.oracle import build_oracle  # noqa: E402

from spans import PHASE_PROPERTY  # noqa: E402

K = 10
CORES = 4
DELTA_DOCS = 1000
SERVE_POOL = 200          # distinct queries behind the Zipf-popular stream
ZIPF_POPULARITY = 0.6     # top 10 of the pool draw ~30% of the traffic
CHURN_SLICES = 2          # query slices per window; an append between each
CHURN_SAMPLE = 0.15       # share of churn queries checked after the window
VERIFY_QUERIES = 24       # fresh queries checked on every final index
MIN_BUILDS = 2
SEED_SLOTS = 100_000      # disjoint 10^6-doc ranges the seed picks from
# corpus docs per workload: the build corpus is large enough (~3 M
# tokens) for build_index to take its bucketed path, as at sf0.1; the
# serving corpora keep set-up short
DOCS = {"build": 9_000, "serve": 5_000, "churn": 5_000}

# serve pool kinds by popularity rank, FIXTURES §2 proportions (3 head,
# 3 mid, 2 tail, 1 OOV, 1 summarize per 10)
_SERVE_KINDS = ("head", "mid", "tail", "head", "mid", "oov",
                "head", "mid", "summarize", "tail")
_CHURN_MIX = {"head": 0.15, "mid": 0.35, "tail": 0.35, "oov": 0.05, "summarize": 0.1}


# ----------------------------------------------------------------- inputs
class Inputs:
    """Seeded corpus, deltas and query generators."""

    def __init__(self, seed: int, n_docs: int):
        self.seed = seed
        self.n_docs = n_docs
        # make_doc stamps doc i at epoch + i seconds, so the doc range
        # must stay far below datetime's year 9999 for any seed
        self.base = (seed % SEED_SLOTS) * 1_000_000
        self.vocab = build_vocab()
        self._cdf = zipf_cdf()
        self.pools = {"head": self.vocab[:100], "mid": self.vocab[100:2000],
                      "tail": self.vocab[2000:]}

    def docs(self, start: int, n: int) -> list[dict]:
        return [make_doc(i, self.vocab, self._cdf) for i in range(start, start + n)]

    def corpus(self) -> list[dict]:
        return self.docs(self.base, self.n_docs)

    def delta(self, j: int) -> list[dict]:
        return self.docs(self.base + 500_000 + j * DELTA_DOCS, DELTA_DOCS)

    def query(self, rng: random.Random, mix: dict[str, float] | None = None,
              kind: str | None = None) -> str:
        if kind is None:
            kind = rng.choices(list(mix), weights=list(mix.values()))[0]
        pools = self.pools

        def conj(pool):
            return " ".join(rng.choice(pool) for _ in range(rng.randint(1, 5)))

        if kind == "oov":
            return f"{conj(pools['mid'])} zzqx{rng.randint(0, 999)}"
        if kind == "summarize":
            return "summarize " + conj(pools["head"])
        return conj(pools[kind])


def write_parquet(docs: list[dict], path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(docs, schema=WEBTEXT_SCHEMA), path)
    return path


def oracle_text(query: str) -> str:
    """The engine routes ``summarize ...`` to a summary index and, with
    none built, strips the keyword; the oracle sees the stripped text."""
    toks = query.split()
    if toks and toks[0].lower().startswith("summar"):
        return " ".join(toks[1:])
    return query


def same_result(got, want) -> bool:
    return len(got) == len(want) and all(
        gd == wd and math.isclose(gs, ws, rel_tol=1e-9)
        for (gd, gs), (wd, ws) in zip(got, want))


# ---------------------------------------------------------------- session
def start_session(work: str, event_dir: str | None):
    """local[4] session sized for a 4-core, 15 GB box. Every scratch
    path (shuffle, spill, JVM temp, warehouse, event log) is under
    ``work``; the engine's package is put on the Python workers' path
    so UDFs import it wherever the benchmark is started from."""
    from pyspark.sql import SparkSession

    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # the environment variable would win over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.task.maxFailures", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_dir:
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", "file://" + event_dir)
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers
    it forked) to exit."""
    proc = jvm_process()
    spark.stop()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------- context
class Run:
    """One benchmark run: its session, tracer, check counters and the
    boundaries of its measured window."""

    def __init__(self, t0: float, inputs: Inputs, seconds: float, work: str,
                 tracer, inject_mismatch: bool):
        self.t0 = t0
        self.inputs = inputs
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.inject = inject_mismatch
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.window_start = None
        self.summary: dict[str, tuple[float, str]] = {}

    # -- phases
    def phase(self, name: str) -> None:
        self.tracer.phase = name
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(PHASE_PROPERTY, name)

    def open_window(self) -> None:
        self.window_start = time.perf_counter()
        self.phase("window")

    def window_open(self) -> bool:
        return time.perf_counter() - self.window_start < self.seconds

    # -- checks
    def check(self, got, want) -> None:
        """Count one checked result; a mismatch is a failure. With
        ``inject`` the first checked result is corrupted, which proves
        the check fires."""
        if self.inject:
            self.inject = False
            got = [(d + 1, s) for d, s in got] or [(0, 1.0)]
        if not same_result(got, want):
            self.failed += 1

    def op(self, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed op and
        returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None


def setup_common(run: Run, event_dir: str | None, extra_docs: int = 0):
    """Generate the corpus (and ``extra_docs`` delta docs) and build the
    oracle while the JVM starts in a background thread."""
    box: dict = {}

    def boot():
        try:
            box["spark"] = start_session(run.work, event_dir)
        except BaseException as e:  # re-raised in the main thread
            box["error"] = e

    th = threading.Thread(target=boot, name="spark-boot")
    th.start()
    try:
        docs = run.inputs.corpus()
        corpus_path = write_parquet(docs, os.path.join(run.work, "corpus.parquet"))
        deltas = []
        for j in range(math.ceil(extra_docs / DELTA_DOCS)):
            d = run.inputs.delta(j)
            deltas.append((d, write_parquet(d, os.path.join(run.work, f"delta{j}.parquet"))))
        oracle = build_oracle((d["url"], d["text"]) for d in docs)
    finally:
        th.join()  # the caller stops whatever session came up
        run.spark = box.get("spark")
    if "error" in box:
        raise box["error"]
    run.phase("setup")
    return corpus_path, deltas, oracle


def build_engine(run: Run, corpus_path: str, index_dir: str):
    from super_rag_spark.query.engine import BM25Engine

    df = run.spark.read.parquet(corpus_path)
    return BM25Engine(run.spark, index_dir).build(df, text_is_extracted=False)


def verify_index(run: Run, eng, oracle, n_docs: int) -> None:
    """Final-state checks shared by every workload: manifest n_docs,
    fresh driver ``topk`` queries and the same queries through the
    distributed ``query_batch_wand`` plan."""
    run.attempted += 1
    if int(eng.manifest["n_docs"]) != n_docs:
        print(f"manifest n_docs {eng.manifest['n_docs']} != {n_docs}", file=sys.stderr)
        run.failed += 1
    rng = random.Random(run.inputs.seed * 7 + 1)
    queries = [run.inputs.query(rng, _CHURN_MIX) for _ in range(VERIFY_QUERIES)]
    want = {q: oracle.topk(oracle_text(q), K) for q in queries}
    for q in queries:
        got = run.op(eng.topk, q, K)
        if got is not None:
            run.check(got, want[q])
    batch = [{"query_id": i, "text": oracle_text(q)} for i, q in enumerate(queries)]
    run.phase("batch")
    run.attempted += len(batch)
    try:
        with run.tracer.span("query.scoring.plan"):
            frame = eng.query_batch_wand(batch, k=K)
        with run.tracer.span("query.scoring.exec"):
            rows = frame.collect()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        run.failed += len(batch)
        rows = None
    by_q: dict[int, list] = {}
    for r in rows or []:
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["rank"], int(r["doc_id"]), float(r["score"])))
    for q in batch if rows is not None else []:
        got = [(d, s) for _, d, s in sorted(by_q.get(q["query_id"], []))]
        run.check(got, want[queries[q["query_id"]]])
    run.phase("verify")


# -------------------------------------------------------------- workloads
def workload_build(run: Run, event_dir: str | None) -> dict:
    """Repeated full builds from HTML of the seeded corpus, JVM warmed."""
    corpus_path, _, oracle = setup_common(run, event_dir)
    run.phase("warmup")
    # one full build warms the JVM, the Python workers and the bucketed
    # path the measured builds take (a smaller slice takes the streaming
    # path and leaves the first measured builds up to 30% slower)
    build_engine(run, corpus_path, os.path.join(run.work, "idx-warm"))
    lat, eng, prev = [], None, None
    run.open_window()
    run.phase("build")
    while run.window_open() or len(lat) < MIN_BUILDS:
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        prev = os.path.join(run.work, f"idx-{len(lat)}")
        t = time.perf_counter()
        e = run.op(build_engine, run, corpus_path, prev)
        if e is not None:
            lat.append(time.perf_counter() - t)
            eng = e
    run.phase("verify")
    if eng is not None:
        verify_index(run, eng, oracle, run.inputs.n_docs)
    n = run.inputs.n_docs
    return {"eng": eng, "lat_s": lat, "work_per_s": n * len(lat) / max(1e-9, sum(lat)),
            "names": {"work_per_s": ("build_docs_per_s", "docs/s"),
                      "latency_p50_ms": ("build_p50_ms", "ms")}}


def workload_serve(run: Run, event_dir: str | None) -> dict:
    """One closed-loop client over a Zipf-popular pool of queries whose
    postings fit the decoded-postings cache."""
    corpus_path, _, oracle = setup_common(run, event_dir)
    run.phase("build")
    eng = build_engine(run, corpus_path, os.path.join(run.work, "idx"))
    run.phase("setup")
    eng.warm()
    # the pool and its popularity ranks are fixed, like the head of a
    # real query log (and FIXTURES.md §2's seeded reference set); the
    # seed draws the stream. A per-seed pool would let a few popular
    # queries' cost set the median.
    pool_rng = random.Random(QUERY_SEED)
    pool = [run.inputs.query(pool_rng, kind=_SERVE_KINDS[r % len(_SERVE_KINDS)])
            for r in range(SERVE_POOL)]
    rng = random.Random(run.inputs.seed)
    want = [oracle.topk(oracle_text(q), K) for q in pool]
    for q in pool:  # first touch fills the caches
        eng.topk(q, K)
    cum, acc = [], 0.0
    for r in range(SERVE_POOL):
        acc += 1.0 / (r + 1) ** ZIPF_POPULARITY
        cum.append(acc)
    stream = itertools.chain.from_iterable(
        rng.choices(range(SERVE_POOL), cum_weights=cum, k=10_000) for _ in itertools.count())
    lat = []
    run.open_window()
    for i in stream:
        if not run.window_open():
            break
        t = time.perf_counter()
        got = run.op(eng.topk, pool[i], K)
        lat.append(time.perf_counter() - t)
        if got is not None:
            run.check(got, want[i])
    elapsed = time.perf_counter() - run.window_start
    run.phase("verify")
    verify_index(run, eng, oracle, run.inputs.n_docs)
    return {"eng": eng, "lat_s": lat, "work_per_s": len(lat) / elapsed,
            "names": {"work_per_s": ("query_qps", "1/s"),
                      "latency_p50_ms": ("query_p50_ms", "ms")}}


def workload_churn(run: Run, event_dir: str | None) -> dict:
    """Rarely repeating queries over all term pools on one long-lived
    engine, with a 1,000-doc segment append between query slices. Head
    and mid terms are decoded in set-up, so the window is the steady
    state of a long-lived engine: they hit the cache and tail terms
    (28 k, too many to repeat within a window) are read and decoded."""
    from super_rag_spark.index.merge import merge_append

    max_appends = CHURN_SLICES - 1
    corpus_path, deltas, oracle = setup_common(run, event_dir, DELTA_DOCS * max_appends)
    index_dir = os.path.join(run.work, "idx")
    run.phase("build")
    eng = build_engine(run, corpus_path, index_dir)
    run.phase("setup")
    eng.warm()
    rng = random.Random(run.inputs.seed)
    sample_rng = random.Random(run.inputs.seed + 1)

    def append(j: int) -> None:
        with run.tracer.span("index.merge.append"):
            merge_append(run.spark, index_dir, run.spark.read.parquet(deltas[j][1]),
                         text_is_extracted=False, mode="segment")

    # one query over every head and mid term decodes them in one read;
    # without it the window's p50 falls from ~15 ms to ~1 ms as they are
    # first touched, and how far it falls depends on the host's speed
    eng.topk(" ".join(run.inputs.pools["head"] + run.inputs.pools["mid"]), K)
    lat, append_s, samples = [], [], []
    slice_s = run.seconds / CHURN_SLICES
    n_appends = 0
    run.open_window()
    while True:
        end = time.perf_counter() + slice_s
        while time.perf_counter() < end:
            q = run.inputs.query(rng, _CHURN_MIX)
            t = time.perf_counter()
            got = run.op(eng.topk, q, K)
            lat.append(time.perf_counter() - t)
            if got is not None and sample_rng.random() < CHURN_SAMPLE:
                samples.append((n_appends, q, got))
        if not run.window_open() or n_appends == max_appends:
            break
        run.phase("append")
        t = time.perf_counter()
        failed = run.failed
        run.op(append, n_appends)
        append_s.append(time.perf_counter() - t)
        run.phase("window")
        if run.failed != failed:
            break
        n_appends += 1
    run.phase("verify")
    # replay: the oracle absorbs each delta through add_document
    for j in range(n_appends + 1):
        for _, q, got in (s for s in samples if s[0] == j):
            run.check(got, oracle.topk(oracle_text(q), K))
        if j < n_appends:
            for d in deltas[j][0]:
                oracle.add_document(d["url"], d["text"])
    verify_index(run, eng, oracle, run.inputs.n_docs + n_appends * DELTA_DOCS)
    run.summary["append_s"] = (statistics.median(append_s) if append_s else 0.0,
                               f"s (median of {len(append_s)})")
    # the append is timed on its own (append_s): one per window, it
    # would otherwise set most of the throughput
    return {"eng": eng, "lat_s": lat, "work_per_s": len(lat) / sum(lat),
            "names": {"work_per_s": ("churn_query_qps", "1/s"),
                      "latency_p50_ms": ("churn_query_p50_ms", "ms")}}


WORKLOADS = {"build": workload_build, "serve": workload_serve, "churn": workload_churn}
