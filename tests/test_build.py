"""Index-build input hygiene: duplicate-url inputs must not corrupt
corpus stats or postings (upsert-by-doc_id semantics, matching the
reference's content-addressed upsert). An input in fewer splits than
cores is spread over every core before extraction, and the files the
build writes do not depend on it: postings and term_stats bytes are the
same per bucket, on the spill and on the streaming builder, and an
append of a one-row-group delta answers as the oracle. build_index,
merge_append, compact_index and compact_tail name their Spark jobs by
phase and leave the caller's job description as they found it."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from super_rag_spark.index import build
from super_rag_spark.index.build import build_index, spread_input
from super_rag_spark.index.merge import (compact_index, compact_tail,
                                         merge_append)
from super_rag_spark.index.storage import IndexStorage
from super_rag_spark.oracle import build_oracle
from super_rag_spark.query.engine import BM25Engine

CFG = dict(n_buckets=8, salt_df_threshold=150)


def test_build_dedupes_duplicate_urls(spark, webtext_sf0001_path, tmp_path, queries100):
    docs = spark.read.parquet(webtext_sf0001_path).select("url", "text").limit(100)
    dup = docs.unionByName(docs.limit(20))  # 20 urls ingested twice

    clean = BM25Engine(spark, str(tmp_path / "clean")).build(docs, n_buckets=4)
    dirty = BM25Engine(spark, str(tmp_path / "dirty")).build(dup, n_buckets=4)

    assert dirty.manifest["n_docs"] == clean.manifest["n_docs"] == 100
    assert dirty.manifest["avgdl"] == clean.manifest["avgdl"]

    q = queries100[0]["text"]
    assert dirty.topk(q, 10) == clean.topk(q, 10)


def test_conflicting_url_dedup_is_deterministic(spark, tmp_path, queries100):
    """One url ingested with TWO different texts: the survivor must be
    chosen by content (max token-hash), not partition order, so repeated
    builds produce rank-identical indexes (determinism north rule)."""
    rows = [(f"https://ex.com/{i}", f"stable text number {i} common") for i in range(50)]
    conflict = [("https://ex.com/dup", "alpha variant of the page common"),
                ("https://ex.com/dup", "beta variant of the page common")]
    a = BM25Engine(
        spark, str(tmp_path / "a")).build(
        spark.createDataFrame(rows + conflict, "url string, text string")
        .repartition(8), n_buckets=4)
    b = BM25Engine(
        spark, str(tmp_path / "b")).build(
        spark.createDataFrame(conflict[::-1] + rows, "url string, text string")
        .repartition(3), n_buckets=4)
    assert a.manifest["n_docs"] == b.manifest["n_docs"] == 51
    assert a.manifest["avgdl"] == b.manifest["avgdl"]
    assert a.topk("common page variant", 10) == b.topk("common page variant", 10)


def test_build_mixed_format_corpus(spark, tmp_path, queries100):
    """r3: extract_mode='any' indexes a mixed-format data lake (url
    extension dispatch) — equivalent to pre-extracting every payload
    and building from text."""
    rows = [
        ("https://x/a.html", b"<h1>alpha doc</h1><p>text about tables</p>"),
        ("https://x/b.txt", b"bravo doc\n\nplain text about scans"),
        ("https://x/c.md", b"# charlie doc\n\nmarkdown text about joins"),
        ("https://x/d.csv", b"col,val\ndelta,42"),
        ("https://x/e.json", b'{"name": "echo doc", "topic": "queries"}'),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    eng = BM25Engine(spark, str(tmp_path / "mixed")).build(
        df, text_is_extracted=False, extract_mode="any", n_buckets=4)
    assert eng.manifest["n_docs"] == 5

    from super_rag_spark.extraction import extract_text_any
    from super_rag_spark.points import _EXT_MAP

    pre = [(u, extract_text_any(h, _EXT_MAP[u.rsplit(".", 1)[-1]]))
           for u, h in rows]
    want = BM25Engine(spark, str(tmp_path / "pre")).build(
        spark.createDataFrame(pre, "url string, text string"), n_buckets=4)
    for q in ["doc text", "tables scans joins", "delta echo"]:
        assert eng.topk(q, 5) == want.topk(q, 5)


@pytest.fixture(scope="module")
def split_inputs(webtext_sf0001_path, tmp_path_factory):
    """The first 240 docs of sf0.001 as (url, text) parquet: ``one``,
    one file of one row group; ``many``, eight files of 30 docs; and
    ``two``, two docs in one row group."""
    tbl = pq.read_table(webtext_sf0001_path, columns=["url", "text"])
    root = tmp_path_factory.mktemp("split")
    paths = {"one": str(root / "one.parquet"), "two": str(root / "two.parquet"),
             "many": str(root / "many")}
    pq.write_table(tbl.slice(0, 240), paths["one"])
    pq.write_table(tbl.slice(0, 2), paths["two"])
    os.makedirs(paths["many"])
    for i in range(8):
        pq.write_table(tbl.slice(30 * i, 30),
                       os.path.join(paths["many"], f"part-{i}.parquet"))
    for name in ("one", "two"):
        assert pq.ParquetFile(paths[name]).metadata.num_row_groups == 1
    return paths


@pytest.fixture
def split_per_file(spark):
    """Read each of ``many``'s small files as its own split: Spark packs
    small files into about one split per core otherwise."""
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "1m")
    yield
    spark.conf.unset(key)


def test_spread_input_uses_every_core(spark, split_inputs):
    """A one-row-group file is one split; spread_input puts its rows in
    min(cores, rows) partitions."""
    cores = spark.sparkContext.defaultParallelism
    for name, n_rows in (("one", 240), ("two", 2)):
        df = spark.read.parquet(split_inputs[name])
        assert df.rdd.getNumPartitions() == 1
        spread = spread_input(spark, df)
        assert spread.select(F.spark_partition_id()).distinct().count() == \
            min(cores, n_rows)
        assert spread.count() == n_rows


def test_spread_input_leaves_a_wide_input(spark, split_inputs,
                                          split_per_file):
    """A frame with more partitions than cores is returned as it is,
    with no exchange in its plan."""
    df = spark.read.parquet(split_inputs["many"])
    assert df.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
    assert spread_input(spark, df) is df
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_spread_leaves_the_index_unchanged(spark, split_inputs, tmp_path,
                                           split_per_file, monkeypatch,
                                           bucket_bytes):
    """The same docs from one row group (spread) and from eight files
    (read as they are) give byte-identical postings and term_stats per
    bucket, and the same doc_stats rows. The spill and the streaming
    builder (forced by a zero bucket budget) write the same bytes too:
    both go through the one postings writer."""
    frames = {name: spark.read.parquet(split_inputs[name])
              for name in ("one", "many")}
    assert spread_input(spark, frames["one"]) is not frames["one"]
    assert spread_input(spark, frames["many"]) is frames["many"]

    def files(store):
        return tuple(bucket_bytes(getattr(store, d)(0))
                     for d in ("postings_dir_for", "term_stats_dir_for"))

    stores = {name: build_index(spark, df, str(tmp_path / name), **CFG)
              for name, df in frames.items()}
    one, many = stores["one"], stores["many"]
    spill = files(one)
    assert len(spill[0]) == len(spill[1]) == CFG["n_buckets"]
    assert all(spill[0].values())
    assert files(many) == spill

    def rows(store):
        return sorted(tuple(r) for r in store.doc_stats(spark, 0).collect())

    assert rows(one) == rows(many)

    monkeypatch.setattr(build, "BUCKET_MEM_BUDGET", 0)
    for name, df in frames.items():
        streamed = build_index(spark, df, str(tmp_path / f"s-{name}"), **CFG)
        assert files(streamed) == spill, name


def test_append_of_one_row_group_delta(spark, webtext_sf0001_path, tmp_path,
                                       queries100):
    """A one-row-group delta from HTML takes the spread in merge_append's
    staging build; the new epoch answers as the oracle through driver
    topk and the distributed WAND plan."""
    tbl = pq.read_table(webtext_sf0001_path, columns=["url", "text", "html"])
    base, delta = tbl.slice(0, 160), tbl.slice(160, 60)
    delta_path = str(tmp_path / "delta.parquet")
    pq.write_table(delta, delta_path)
    root = str(tmp_path / "idx")
    eng = BM25Engine(spark, root).build(
        spark.createDataFrame(base.select(["url", "text"]).to_pylist(),
                              "url string, text string"), **CFG)
    merge_append(spark, root, spark.read.parquet(delta_path),
                 text_is_extracted=False)
    assert eng.store.epoch() == 1
    oracle = build_oracle((r["url"], r["text"])
                          for r in base.to_pylist() + delta.to_pylist())
    queries = [q["text"] for q in queries100[:12]]
    want = [oracle.topk(q, 10) for q in queries]

    def same(got, exp):
        assert [d for d, _ in got] == [d for d, _ in exp]
        assert all(abs(g - e) <= 1e-9 for (_, g), (_, e) in zip(got, exp))

    for q, exp in zip(queries, want):
        same(eng.topk(q, 10), exp)
    ranked = {}
    for r in eng.query_batch_wand(
            [{"query_id": i, "text": q} for i, q in enumerate(queries)],
            10).collect():
        ranked.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for i, exp in enumerate(want):
        same([(d, s) for _, d, s in sorted(ranked.get(i, []))], exp)


def test_build_names_its_jobs_and_restores_the_description(
        spark, split_inputs, tmp_path, monkeypatch):
    """build_index names its phases' jobs in order and leaves the
    caller's job description exactly as it found it, set or unset."""
    sc = spark.sparkContext
    names = []
    set_description = sc.setJobDescription
    monkeypatch.setattr(sc, "setJobDescription",
                        lambda v: names.append(v) or set_description(v))
    df = spark.read.parquet(split_inputs["two"])
    for caller in ("caller's phase", None):
        sc.setLocalProperty("spark.job.description", caller)
        names.clear()
        build_index(spark, df, str(tmp_path / str(caller)), **CFG)
        assert sc.getLocalProperty("spark.job.description") == caller
        assert names == ["build:extract", "build:doc_stats",
                         "build:postings"]


def test_append_names_its_jobs_and_restores_the_description(
        spark, split_inputs, tmp_path, monkeypatch):
    """merge_append names its phases' jobs in order, after the staging
    build's own, and leaves the caller's job description exactly as it
    found it, set or unset. The delta re-ingests two indexed docs:
    upserts, which the probe finds and a bucket rewrite removes."""
    sc = spark.sparkContext
    root = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(split_inputs["many"]), root, **CFG)
    names = []
    set_description = sc.setJobDescription
    monkeypatch.setattr(sc, "setJobDescription",
                        lambda v: names.append(v) or set_description(v))
    for epoch, caller in enumerate(("caller's phase", None), start=1):
        sc.setLocalProperty("spark.job.description", caller)
        names.clear()
        merge_append(spark, root, spark.read.parquet(split_inputs["two"]))
        manifest = IndexStorage(root).read_manifest()
        assert (manifest["epoch"], manifest["n_docs"]) == (epoch, 240)
        assert sc.getLocalProperty("spark.job.description") == caller
        assert names == ["build:extract", "build:doc_stats",
                         "build:postings", "append:sidecars", "append:probe",
                         "append:rewrite", "append:stats", "append:sidecars"]


def test_compaction_names_its_jobs_and_restores_the_description(
        spark, split_inputs, tmp_path, monkeypatch):
    """compact_tail and compact_index name their phases' jobs in order
    and leave the caller's job description exactly as they found it,
    set or unset. Each round first appends a second segment, so the
    tail fold has a segment to fold."""
    sc = spark.sparkContext
    root = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(split_inputs["many"]), root, **CFG)
    names = []
    set_description = sc.setJobDescription
    monkeypatch.setattr(sc, "setJobDescription",
                        lambda v: names.append(v) or set_description(v))
    for caller in ("caller's phase", None):
        sc.setLocalProperty("spark.job.description", caller)
        merge_append(spark, root, spark.read.parquet(split_inputs["two"]))
        for compact, want in (
                (compact_tail, ["compact:plan", "compact:rewrite"]),
                (compact_index, ["compact:rewrite", "compact:stats",
                                 "compact:sidecars"])):
            names.clear()
            epoch = IndexStorage(root).epoch()
            compact(spark, root)
            manifest = IndexStorage(root).read_manifest()
            assert (manifest["epoch"], manifest["n_docs"]) == (epoch + 1, 240)
            assert sc.getLocalProperty("spark.job.description") == caller
            assert names == want, compact.__name__


# ------------------------------------------------ postings against the oracle

def _decoded(store: IndexStorage, epoch: int) -> dict:
    """{(term_id, doc_id): (tf, dl)} of every posting in every bucket
    file of ``epoch``, each checked to sit in its term's bucket and to
    be the only posting of its (term, doc)."""
    from super_rag_spark.query.scoring import decode_postings_map_in_arrow

    n_buckets = int(store.read_manifest()["n_buckets"])
    out = {}
    for b in range(n_buckets):
        d = os.path.join(store.postings_dir_for(epoch), f"bucket={b}")
        for f in sorted(os.listdir(d)):
            batches = pq.read_table(os.path.join(d, f)).to_batches()
            for rb in decode_postings_map_in_arrow(batches):
                for t, doc, tf, dl in zip(*(c.to_pylist() for c in rb.columns)):
                    assert t % n_buckets == b
                    assert (t, doc) not in out
                    out[(t, doc)] = (tf, dl)
    return out


def _matches_oracle(spark, store: IndexStorage, pairs) -> None:
    """The index's postings, doc_stats and manifest stats are the
    oracle's over ``pairs``, its (url, text) rows."""
    from super_rag_spark.analysis import term_id_for

    oracle = build_oracle(pairs)
    epoch = store.epoch()
    assert _decoded(store, epoch) == {
        (term_id_for(t), d): (tf, oracle.doclen[d])
        for t, plist in oracle.postings.items() for d, tf in plist.items()}
    assert {r["doc_id"]: r["dl"] for r in store.doc_stats(spark, epoch)
            .collect()} == oracle.doclen
    manifest = store.read_manifest()
    assert (manifest["n_docs"], manifest["avgdl"]) == (oracle.n_docs,
                                                       oracle.avgdl)


@pytest.fixture(scope="module")
def oracle_rows(webtext_sf0001_path):
    """40 fixture docs: url, html, text and lang."""
    tbl = pq.read_table(webtext_sf0001_path,
                        columns=["url", "html", "text", "lang"])
    return tbl.slice(0, 40).to_pylist()


def _html_case(spark, rows, root):
    from super_rag_spark.extraction import extract_text

    df = spark.createDataFrame([(r["url"], r["html"]) for r in rows],
                               "url string, html binary")
    return (build_index(spark, df, root, text_is_extracted=False, **CFG),
            [(r["url"], extract_text(r["html"])) for r in rows])


def _any_case(spark, rows, root):
    from super_rag_spark.extraction import extract_text_any
    from super_rag_spark.points import _EXT_MAP

    lake = [("https://x/a.html", b"<h1>alpha doc</h1><p>text about tables</p>"),
            ("https://x/b.txt", b"bravo doc\n\nplain text about scans"),
            ("https://x/c.md", b"# charlie doc\n\nmarkdown text about joins"),
            ("https://x/d.csv", b"col,val\ndelta,42"),
            ("https://x/e.json", b'{"name": "echo doc", "topic": "queries"}')]
    lake += [(r["url"], r["html"]) for r in rows[:10]]  # no extension: HTML
    df = spark.createDataFrame(lake, "url string, html binary")
    ext = {u: _EXT_MAP.get(u.rsplit(".", 1)[-1], "HTML") for u, _ in lake}
    return (build_index(spark, df, root, text_is_extracted=False,
                        extract_mode="any", **CFG),
            [(u, extract_text_any(h, ext[u])) for u, h in lake])


def _text_case(spark, rows, root):
    pairs = [(r["url"], r["text"]) for r in rows]
    df = spark.createDataFrame(pairs, "url string, text string")
    return build_index(spark, df, root, **CFG), pairs


def _title_html_case(spark, rows, root):
    """title_weight=2 from HTML: the title's tokens count twice, which
    the oracle sees as the title appended to the text once more."""
    from super_rag_spark.extraction import extract_text_title

    df = spark.createDataFrame([(r["url"], r["html"]) for r in rows],
                               "url string, html binary")
    pairs = [(r["url"], "\n".join(extract_text_title(r["html"])))
             for r in rows]
    return (build_index(spark, df, root, text_is_extracted=False,
                        title_weight=2, **CFG), pairs)


def _title_text_case(spark, rows, root):
    docs = [(r["url"], r["text"], r["text"].split("\n")[0]) for r in rows]
    df = spark.createDataFrame(docs, "url string, text string, title string")
    return (build_index(spark, df, root, title_weight=3, **CFG),
            [(u, "\n".join([t, ti, ti])) for u, t, ti in docs])


def _meta_case(spark, rows, root):
    df = spark.createDataFrame([(r["url"], r["text"], r["lang"]) for r in rows],
                               "url string, text string, lang string")
    store = build_index(spark, df, root, meta_cols=("lang",), **CFG)
    assert {r["url"]: r["lang"] for r in store.doc_stats(spark, 0).collect()} \
        == {r["url"]: r["lang"] for r in rows}
    return store, [(r["url"], r["text"]) for r in rows]


def _duplicates_case(spark, rows, root):
    """One url with two texts, another ingested twice as it is: the
    survivor is the text whose tokens have the highest md5 of their
    space-joined string, then the highest dl."""
    import hashlib

    from super_rag_spark.analysis import tokenize

    pairs = [(r["url"], r["text"]) for r in rows]
    texts = ["alpha variant of the page", "beta variant of the page common"]
    dup = pairs + [pairs[3], ("https://ex.com/dup", texts[0]),
                   ("https://ex.com/dup", texts[1])]
    df = spark.createDataFrame(dup, "url string, text string").repartition(3)

    def key(text):
        toks = tokenize(text)
        return hashlib.md5(" ".join(toks).encode()).hexdigest(), len(toks)

    return (build_index(spark, df, root, **CFG),
            pairs + [("https://ex.com/dup", max(texts, key=key))])


def _empty_doc_case(spark, rows, root):
    pairs = [(r["url"], r["text"]) for r in rows[:10]]
    pairs += [("https://e.example/empty", ""),
              ("https://e.example/punct", " -- !! ... ")]
    df = spark.createDataFrame(pairs, "url string, text string")
    return build_index(spark, df, root, **CFG), pairs


def _append_case(spark, rows, root):
    """A staging append from HTML: new docs plus an upsert of an
    indexed url, over a text-built base."""
    from super_rag_spark.extraction import extract_text

    base = [(r["url"], r["text"]) for r in rows[:30]]
    build_index(spark, spark.createDataFrame(base, "url string, text string"),
                root, **CFG)
    upsert = dict(rows[0], html=b"<p>replacement body for the upsert</p>")
    delta = [upsert] + rows[30:]
    merge_append(spark, root, spark.createDataFrame(
        [(r["url"], r["html"]) for r in delta], "url string, html binary"),
        text_is_extracted=False)
    store = IndexStorage(root)
    assert store.epoch() == 1
    return store, base[1:] + [(r["url"], extract_text(r["html"])) for r in delta]


@pytest.mark.parametrize("case", [
    _html_case, _any_case, _text_case, _title_html_case, _title_text_case,
    _meta_case, _duplicates_case, _empty_doc_case, _append_case],
    ids=lambda f: f.__name__.strip("_").removesuffix("_case"))
def test_postings_match_the_oracle(spark, oracle_rows, tmp_path, case):
    """Every build_index option writes exactly the oracle's postings:
    each bucket decodes to (term_id_for(term), doc_id, tf, dl) of
    OracleIndex.postings and doclen, and doc_stats and the manifest
    carry the oracle's dl, n_docs and avgdl."""
    store, pairs = case(spark, oracle_rows, str(tmp_path / "idx"))
    _matches_oracle(spark, store, pairs)


def test_streaming_fallbacks_write_the_spill_files(
        spark, split_inputs, tmp_path, monkeypatch, bucket_bytes):
    """The two builds the spill does not serve go to the streaming
    builder and write the same bytes: a bucket over BUCKET_MEM_BUDGET,
    and an adaptive bucket count other than the spill's (the session's
    parallelism)."""
    cores = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(split_inputs["one"])
    cfg = dict(salt_df_threshold=150)
    streamed = []
    write_blocks = build.write_blocks
    monkeypatch.setattr(build, "write_blocks",
                        lambda *a, **k: streamed.append(1) or write_blocks(*a, **k))

    def files(store):
        return tuple(bucket_bytes(getattr(store, d)(0))
                     for d in ("postings_dir_for", "term_stats_dir_for"))

    spill = files(build_index(spark, df, str(tmp_path / "spill"),
                              n_buckets=cores + 1, **cfg))
    assert not streamed and len(spill[0]) == cores + 1
    with monkeypatch.context() as m:
        m.setattr(build, "BUCKET_MEM_BUDGET", 0)
        over = build_index(spark, df, str(tmp_path / "over"),
                           n_buckets=cores + 1, **cfg)
    assert streamed == [1] and files(over) == spill
    monkeypatch.setattr(build, "adaptive_n_buckets", lambda s, t: cores + 1)
    adaptive = build_index(spark, df, str(tmp_path / "adaptive"), **cfg)
    assert streamed == [1, 1] and files(adaptive) == spill
    assert adaptive.read_manifest()["n_buckets"] == cores + 1


def test_adaptive_multiple_reads_the_spill(
        spark, split_inputs, tmp_path, monkeypatch, bucket_bytes):
    """An adaptive bucket count that is a multiple of the spill's (the
    session's parallelism) keeps the columnar spill path: one task per
    spill bucket builds its index buckets, or two tasks each half of
    them when the spill bucket is over BUCKET_MEM_BUDGET; the files are
    those of a build pinned to that count, each written once. When half
    a spill bucket is still over the budget the streaming builder
    writes the same files."""
    cores = spark.sparkContext.defaultParallelism
    nb = 2 * cores
    df = spark.read.parquet(split_inputs["one"])
    cfg = dict(salt_df_threshold=150)
    streamed, tasks = [], []
    write_blocks, per_bucket = build.write_blocks, build._per_bucket
    monkeypatch.setattr(build, "write_blocks",
                        lambda *a, **k: streamed.append(1) or write_blocks(*a, **k))

    def counted(s, n, task):
        # (tasks, bucket files the tasks wrote)
        rows = per_bucket(s, n, task)
        tasks.append((n, len(rows)))
        return rows

    monkeypatch.setattr(build, "_per_bucket", counted)

    def files(store):
        return tuple(bucket_bytes(getattr(store, d)(0))
                     for d in ("postings_dir_for", "term_stats_dir_for"))

    pinned = build_index(spark, df, str(tmp_path / "pinned"), n_buckets=nb, **cfg)
    want = files(pinned)
    # the biggest spill bucket's postings: index buckets b and b + cores
    n = [pq.read_table(os.path.join(pinned.postings_dir_for(0), f"bucket={b}"),
                       columns=["n"])["n"].to_numpy().sum() for b in range(nb)]
    biggest = max(n[b] + n[b + cores] for b in range(cores))
    monkeypatch.setattr(build, "adaptive_n_buckets", lambda s, t: nb)
    tasks.clear()
    for budget, n_tasks in ((build.BUCKET_MEM_BUDGET, cores),
                            (biggest * 24 - 1, 2 * cores)):
        with monkeypatch.context() as m:
            m.setattr(build, "BUCKET_MEM_BUDGET", budget)
            store = build_index(spark, df, str(tmp_path / f"b{budget}"), **cfg)
        assert store.read_manifest()["n_buckets"] == nb
        assert files(store) == want and tasks[0] == (n_tasks, nb)
        tasks.clear()
    assert not streamed
    with monkeypatch.context() as m:
        m.setattr(build, "BUCKET_MEM_BUDGET", biggest * 12 - 1)
        store = build_index(spark, df, str(tmp_path / "streamed"), **cfg)
    assert streamed == [1] and files(store) == want


def test_adaptive_n_buckets_is_a_multiple_of_the_parallelism():
    """adaptive_n_buckets: at least the parallelism, one bucket per
    ~128 MiB of postings (6 B per token), rounded up to a multiple of
    the parallelism, and at most 4096 (the biggest multiple below it)."""
    class Session:
        def __init__(self, par):
            self.sparkContext = type("SC", (), {"defaultParallelism": par})

    mib128 = (1 << 27) // 6 + 1  # tokens of one 128 MiB bucket
    for par, tokens, want in ((4, 0, 4), (4, 4 * mib128, 4), (4, 5 * mib128, 8),
                              (3, 10 ** 13, 4095), (4, 10 ** 13, 4096),
                              (5000, 10 ** 13, 4096), (1, 3 * mib128, 3)):
        assert build.adaptive_n_buckets(Session(par), tokens) == want


def test_failed_doc_pass_leaves_no_spill(spark, tmp_path):
    """A doc pass that raises (a .docx url whose payload is not a zip)
    fails the build and leaves no spill dir behind."""
    df = spark.createDataFrame(
        [("https://x/a.html", b"<p>fine</p>"), ("https://x/b.docx", b"not a zip")],
        "url string, html binary")
    root = str(tmp_path / "idx")
    with pytest.raises(Exception, match="BadZipFile|not a zip"):
        build_index(spark, df, root, text_is_extracted=False,
                    extract_mode="any", n_buckets=2)
    assert not os.path.exists(IndexStorage(root).postings_dir_for(0) + "._tfspill")


def test_per_bucket_runs_one_task_per_item_in_item_order(spark):
    """_per_bucket runs ``task(i)`` once per i of range(n), each in its
    own task of ONE job of one stage (no exchange), and returns the
    lineage rows the tasks yield in order of i; a task may yield none or
    several."""
    from pyspark import TaskContext

    sc = spark.sparkContext
    items = [7, 3, 9, 0, 5, 1, 8, 2, 6, 4]  # more items than cores

    def task(i):
        pid = TaskContext.get().partitionId()
        return [{"bucket": items[i], "n_terms": pid, "n_blocks": k,
                 "n_postings": 0} for k in range(items[i] % 3)]

    sc.setJobGroup("per_bucket", "per_bucket")
    try:
        rows = build._per_bucket(spark, len(items), task)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [tuple(r.values()) for r in rows] == [
        (b, i, k, 0) for i, b in enumerate(items) for k in range(b % 3)]
    tracker = sc.statusTracker()
    [job] = tracker.getJobIdsForGroup("per_bucket")
    [stage] = tracker.getJobInfo(job).stageIds
    assert tracker.getStageInfo(stage).numTasks == len(items)
    assert build._per_bucket(spark, 0, task) == []


def test_spill_tasks_ship_no_other_tasks_files(spark, tmp_path, monkeypatch):
    """The postings tasks of a doc pass's spill each read their spill
    bucket's list of files from the spill dir: the function the job
    ships to every task is the same size for 2 spill files as for 40,
    and both spills build the same postings."""
    from pyspark import cloudpickle

    shipped = []
    frame = type(spark.range(1))
    map_in_arrow = frame.mapInArrow
    monkeypatch.setattr(frame, "mapInArrow", lambda self, f, schema, *a, **k:
                        shipped.append(len(cloudpickle.dumps(f)))
                        or map_in_arrow(self, f, schema, *a, **k))
    rng = np.random.default_rng(3)
    terms = rng.integers(-(1 << 62), 1 << 62, 300)
    rows = (np.repeat(terms, 5), rng.integers(0, 1 << 60, 1500),
            (rng.integers(1, 4, 1500) << 32) | 50)
    files = {}
    for n_files in (2, 40):
        spill = tmp_path / f"s{n_files:02d}" / "spill"
        spill.mkdir(parents=True)
        for f, part in enumerate(np.array_split(np.arange(1500), n_files)):
            tmp = str(spill / f".{f}.tmp")
            build._spill(None, tmp, [tuple(c[part] for c in rows)], 4).close()
            os.replace(tmp, str(spill / f"part-{f:05d}.parquet"))
        out = tmp_path / f"s{n_files:02d}"
        got = build._postings_from_spill(
            spark, str(spill), 4, str(out / "postings"), str(out / "ts"),
            block_size=16, n_buckets=4, salt_df_threshold=100, salt_count=16,
            seg=0)
        assert sorted(r["bucket"] for r in got) == [0, 1, 2, 3]
        files[n_files] = [pq.read_table(str(out / "postings" / f"bucket={b}"))
                          for b in range(4)]
    assert len(shipped) == 2 and shipped[0] == shipped[1]
    assert all(a.equals(b) for a, b in zip(files[2], files[40]))


def test_builds_start_no_rdd_job(spark, split_inputs, tmp_path, monkeypatch):
    """build_index, build_positions and merge_append (an upsert, so a
    bucket is rewritten and the positions sidecar carried) complete with
    SparkContext.parallelize raising: every Python task they run is in
    a DataFrame Arrow job, so a session keeps one Python worker pool."""
    from pyspark import SparkContext

    from super_rag_spark.index.positions import build_positions

    root = str(tmp_path / "idx")
    docs = spark.read.parquet(split_inputs["one"])
    delta = spark.read.parquet(split_inputs["two"])

    def refuse(*args, **kwargs):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    build_index(spark, docs, root, **CFG)
    build_positions(spark, docs, root)
    merge_append(spark, root, delta)
    store = IndexStorage(root)
    manifest = store.read_manifest()
    assert (manifest["epoch"], manifest["n_docs"]) == (1, 240)
    assert store.committed_buckets("build", 0)
    assert os.listdir(store.positions_dir_for(1))
