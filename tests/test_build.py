"""Index-build input hygiene: duplicate-url inputs must not corrupt
corpus stats or postings (upsert-by-doc_id semantics, matching the
reference's content-addressed upsert). An input in fewer splits than
cores is spread over every core before extraction, and the files the
build writes do not depend on it: postings and term_stats bytes are the
same per bucket on both postings paths, and an append of a one-row-group
delta answers as the oracle. build_index names its Spark jobs by phase
and leaves the caller's job description as it found it."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from super_rag_spark.index.build import (build_index, build_postings_bucketed,
                                         spread_input, term_id_expr,
                                         tokens_from_text)
from super_rag_spark.index.merge import merge_append
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


def _bucket_bytes(table_dir):
    """{bucket dir name: sorted file bytes} of a bucket-partitioned
    table."""
    out = {}
    for b in sorted(os.listdir(table_dir)):
        if b.startswith("bucket="):
            d = os.path.join(table_dir, b)
            out[b] = sorted(open(os.path.join(d, f), "rb").read()
                            for f in os.listdir(d) if f.endswith(".parquet"))
    return out


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
                                           split_per_file):
    """The same docs from one row group (spread) and from eight files
    (read as they are) give byte-identical postings and term_stats per
    bucket on the streaming path (build_index) and on the bucketed path
    (build_postings_bucketed), and the same doc_stats rows."""
    frames = {name: spark.read.parquet(split_inputs[name])
              for name in ("one", "many")}
    assert spread_input(spark, frames["one"]) is not frames["one"]
    assert spread_input(spark, frames["many"]) is frames["many"]

    stores = {name: build_index(spark, df, str(tmp_path / name), **CFG)
              for name, df in frames.items()}
    one, many = stores["one"], stores["many"]
    for d in ("postings_dir_for", "term_stats_dir_for"):
        got = _bucket_bytes(getattr(one, d)(0))
        assert len(got) == CFG["n_buckets"]
        assert got == _bucket_bytes(getattr(many, d)(0)), d

    def rows(store):
        return sorted(tuple(r) for r in store.doc_stats(spark, 0).collect())

    assert rows(one) == rows(many)

    bucketed = {}
    for name, df in frames.items():
        tf = (tokens_from_text(spread_input(spark, df))
              .selectExpr("doc_id", "dl", "explode(tokens) AS term")
              .select(term_id_expr("term").alias("term_id"), "doc_id",
                      F.lit(1).alias("tf"), "dl"))
        pdir, tsdir = (str(tmp_path / f"b-{name}" / t)
                       for t in ("postings", "term_stats"))
        build_postings_bucketed(spark, tf, pdir, tsdir, **CFG)
        bucketed[name] = (_bucket_bytes(pdir), _bucket_bytes(tsdir))
    assert bucketed["one"][0]
    assert bucketed["one"] == bucketed["many"]


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
                         "build:postings", "build:stats"]
