"""The per-epoch term directory (index/termdir.py): postings are sliced
out of cached row groups found by their footer term_id ranges, for the
driver and for the distributed plans alike.

- every writer leaves what the directory relies on: term_id min/max
  statistics on each postings row group and a sorted term_id column;
- a hand-written bucket file whose row groups are out of term_id order
  still answers as the oracle; one without term_id statistics fails the
  query, naming the file, on the driver and in the WAND plan's tasks;
- the WAND plan's per-task feed ranks as the exhaustive plan, and a
  plan that follows the driver's queries reads no index file; block
  rows of in-vocabulary ids read no term_stats;
- a cached row group does not let a head term of its bucket past the
  driver df budget, and a cached term owns its decoded arrays;
- the I/O and decode counts are exact: a row group is read once per
  epoch, an OOV term reads no postings, the missed terms of a query
  decode in one call, and after an append only the new epoch is read.
"""

import os
import pickle
import re
import shutil

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PythonException

from super_rag_spark import codec
from super_rag_spark.analysis import doc_id_for_url, term_id_for, tokenize
from super_rag_spark.index import build, termdir
from super_rag_spark.index.merge import (compact_index, compact_tail,
                                         merge_append)
from super_rag_spark.index.storage import bucket_of_term
from super_rag_spark.oracle import build_oracle
from super_rag_spark.query import scoring
from super_rag_spark.query.engine import BM25Engine

CFG = dict(n_buckets=8, salt_df_threshold=150)


@pytest.fixture(scope="module")
def rows(spark, webtext_sf0001_path):
    return [(r["url"], r["text"]) for r in
            spark.read.parquet(webtext_sf0001_path).select("url", "text")
            .limit(240).collect()]


def _docs(spark, rs):
    return spark.createDataFrame(rs, "url string, text string")


def _assert_oracle(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(g - w) <= 1e-9 for (_, g), (_, w) in zip(got, want))


def _ranked(df):
    return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                  for r in df.collect())


def _wand_plan(spark, root, q, per_task, monkeypatch):
    """``q``'s hits from the distributed WAND plan of a fresh engine:
    blocks broadcast from the driver, or read by each task when
    ``per_task``."""
    with monkeypatch.context() as m:
        if per_task:
            m.setattr(scoring, "WAND_BROADCAST_BYTES", -1)
        got = _ranked(BM25Engine(spark, root).query_batch_wand(
            [{"query_id": 0, "text": q}], 10))
    return [(d, s) for _, _, d, s in got]


def _ingest_stats(index_dir):
    """``scripts/ingest.py stats`` of an index."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "ingest.py")
    spec = importlib.util.spec_from_file_location("ingest_cli", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._stats(index_dir)


def _assert_one_layout(store, table, plain, step):
    """Every ``table`` bucket dir of the live epoch exists and holds no
    temp file, and each of its files has term_id min/max statistics on
    every row group that match a non-decreasing term_id column and no
    dictionary page on the ``plain`` columns; ``ingest.py stats`` names
    one parquet writer of the table. Returns the files' row-group
    counts and the largest row group's compressed bytes."""
    epoch = store.epoch()
    per_file, largest = [], 0
    for b in range(CFG["n_buckets"]):
        d = store.bucket_dir(table, epoch, b)
        names = sorted(os.listdir(d))
        assert not [f for f in names if f.endswith(".tmp")], (step, b, names)
        for f in names:
            path = os.path.join(d, f)
            pf = pq.ParquetFile(path)
            md = pf.metadata
            cols = md.schema.names
            per_file.append(md.num_row_groups)
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                largest = max(largest, sum(
                    rg.column(c).total_compressed_size
                    for c in range(rg.num_columns)))
                for c in plain:
                    assert not rg.column(cols.index(c)).has_dictionary_page, (
                        step, path, g, c)
                st = rg.column(cols.index("term_id")).statistics
                assert st is not None and st.has_min_max, (step, path, g)
                tid = pf.read_row_group(g, columns=["term_id"])[
                    "term_id"].to_numpy()
                assert (tid[1:] >= tid[:-1]).all(), (step, path, g)
                assert (st.min, st.max) == (tid[0], tid[-1]), (step, path, g)
    assert per_file, (step, table)
    assert len(_ingest_stats(store.root)[f"{table}_writers"]) == 1, (
        step, table)
    return per_file, largest


def _assert_block_layouts(store, step):
    """The one layout on postings and positions files alike;
    ``ingest.py stats`` reports the postings files' row-group counts and
    the largest row group's compressed bytes."""
    _assert_one_layout(store, "positions", ("term_id", "docs_enc", "pos_enc"),
                       step)
    per_file, largest = _assert_one_layout(
        store, "postings", ("term_id", "docs_enc", "dls_enc"), step)
    stats = _ingest_stats(store.root)
    assert stats["postings_files"] == len(per_file), step
    assert stats["row_groups_per_file"]["max"] == max(per_file), step
    assert stats["row_groups_per_file"]["min"] == min(per_file), step
    assert stats["max_row_group_compressed_bytes"] == largest, step


def _assert_term_stats_from_blocks(store, step):
    """Every term_stats bucket dir of the live epoch holds at most one
    parquet file, whose term_ids strictly increase and whose rows are
    the sum of block n per term over the bucket's postings files;
    ``ingest.py stats`` counts the same files and rows."""
    import pandas as pd

    epoch = store.epoch()
    n_files = n_terms = 0
    for b in range(CFG["n_buckets"]):
        tsd = store.bucket_dir("term_stats", epoch, b)
        parts = [f for f in os.listdir(tsd) if f.endswith(".parquet")]
        assert len(parts) <= 1, (step, b, parts)
        got = (pq.read_table(os.path.join(tsd, parts[0])).to_pandas()
               if parts else pd.DataFrame({"term_id": [], "df": []}))
        assert (np.diff(got["term_id"].to_numpy()) > 0).all(), (step, b)
        pdir = store.bucket_dir("postings", epoch, b)
        blocks = [pq.read_table(os.path.join(pdir, f),
                                columns=["term_id", "n"]).to_pandas()
                  for f in os.listdir(pdir) if f.endswith(".parquet")]
        want = (pd.concat(blocks).groupby("term_id")["n"].sum()
                if blocks else pd.Series(dtype="int64"))
        assert got["term_id"].tolist() == want.index.tolist(), (step, b)
        assert got["df"].tolist() == want.tolist(), (step, b)
        n_files += len(parts)
        n_terms += len(got)
    stats = _ingest_stats(store.root)
    assert (stats["term_stats_files"], stats["n_terms"]) == (
        n_files, n_terms), step


def test_every_writer_keeps_row_groups_sorted(spark, rows, tmp_path,
                                              monkeypatch, bucket_bytes):
    """The streaming build (forced by a zero bucket budget), the spill
    build, an upserting append, a pure append, a tail compaction and a
    full compaction each leave every postings and positions bucket dir,
    sorted row groups with term_id statistics, in the one block layout
    with no temp file left, and one term_stats file per bucket whose df
    is the bucket's own block sum; the driver answers as the oracle
    after every step. The two builds write byte-identical positions
    files."""
    base, d1, d2 = rows[:160], rows[160:200], rows[200:240]
    upsert = [(base[0][0], base[0][1] + " semudo muro")]
    queries = ["semudo muro fuboname", "gaku", "zibapevi semudo"]

    def check(eng, corpus, step):
        _assert_block_layouts(eng.store, step)
        _assert_term_stats_from_blocks(eng.store, step)
        fresh = BM25Engine(spark, eng.store.root)
        oracle = build_oracle(corpus)
        for q in queries:
            _assert_oracle(fresh.topk(q, 10), oracle.topk(q, 10))

    with monkeypatch.context() as m:
        m.setattr(build, "BUCKET_MEM_BUDGET", 0)
        streaming = BM25Engine(spark, str(tmp_path / "s")).build(
            _docs(spark, base), positions=True, **CFG)
    check(streaming, base, "streaming build")

    eng = BM25Engine(spark, str(tmp_path / "b")).build(
        _docs(spark, base), positions=True, **CFG)
    check(eng, base, "spill build")
    assert (bucket_bytes(eng.store.positions_dir_for(0))
            == bucket_bytes(streaming.store.positions_dir_for(0)))

    live = dict(base)
    merge_append(spark, eng.store.root, _docs(spark, upsert + d1))
    live.update(upsert + d1)
    check(eng, list(live.items()), "upserting append")
    merge_append(spark, eng.store.root, _docs(spark, d2))
    live.update(d2)
    check(eng, list(live.items()), "append")
    compact_tail(spark, eng.store.root)
    check(eng, list(live.items()), "compact_tail")
    compact_index(spark, eng.store.root)
    check(eng, list(live.items()), "compact_index")


@pytest.fixture(scope="module")
def small_index(spark, rows, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dir") / "idx")
    BM25Engine(spark, root).build(_docs(spark, rows[:120]), **CFG)
    return root


@pytest.mark.parametrize("fault", ["unsorted", "no_statistics"])
def test_unsorted_bucket_file_fails_the_query(spark, rows, small_index,
                                              tmp_path, monkeypatch, fault):
    """A bucket file written out of term_id order, within and across its
    row groups, answers as the oracle on both driver methods and on the
    distributed WAND plan with either feed: each row group is sorted as
    it is loaded. A file without term_id statistics cannot be searched:
    the query raises and names the file instead of answering from the
    wrong rows, on the driver and in the plan's tasks."""
    root = str(tmp_path / "idx")
    shutil.copytree(small_index, root)
    eng = BM25Engine(spark, root)
    terms = sorted(set(tokenize(rows[0][1])))
    term = terms[0]
    bucket = bucket_of_term(term, CFG["n_buckets"])
    pdir = os.path.join(eng.store.postings_dir_for(0), f"bucket={bucket}")
    (name,) = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    path = os.path.join(pdir, name)
    tbl = pq.read_table(path)
    if fault == "no_statistics":
        pq.write_table(tbl, path, write_statistics=False)
        with pytest.raises(ValueError, match=name):
            eng.topk(term, 10)
        with pytest.raises(ValueError, match=name):
            _wand_plan(spark, root, term, False, monkeypatch)
        with pytest.raises(PythonException,
                           match=f"ValueError: .*{re.escape(name)}"):
            _wand_plan(spark, root, term, True, monkeypatch)
        return
    # reversed rows in three row groups: every group is descending, and
    # each group's term_id range overlaps the others'
    tbl = tbl.take(np.arange(tbl.num_rows)[::-1])
    pq.write_table(tbl, path, row_group_size=-(-tbl.num_rows // 3))
    assert pq.ParquetFile(path).metadata.num_row_groups == 3
    oracle = build_oracle(rows[:120])
    same = [t for t in terms
            if bucket_of_term(t, CFG["n_buckets"]) == bucket]
    for q in [term, " ".join(same[:3]), " ".join(terms[:4])]:
        _assert_oracle(eng.topk(q, 10), oracle.topk(q, 10))
        _assert_oracle(BM25Engine(spark, root).topk(q, 10, method="wand"),
                       oracle.topk(q, 10))
        for per_task in (False, True):
            _assert_oracle(_wand_plan(spark, root, q, per_task, monkeypatch),
                           oracle.topk(q, 10))


def test_cached_row_group_keeps_the_budget(spark, rows, small_index):
    """The driver df budget still fires for a head term whose row group
    a cold tail term of its bucket has already brought into the cache,
    on both driver methods: the row group holds the head term's blocks,
    not its decoded postings."""
    oracle = build_oracle(rows[:120])
    vocab = sorted({t for _, text in rows[:120] for t in tokenize(text)})
    for method in ("vectorized", "wand"):
        eng = BM25Engine(spark, small_index)
        snap = eng._snapshot()
        dfs = eng._term_dfs(snap, vocab)
        head = max(vocab, key=lambda t: dfs[t])
        bucket = bucket_of_term(head, CFG["n_buckets"])
        tail = next(t for t in vocab if dfs[t] == 1
                    and bucket_of_term(t, CFG["n_buckets"]) == bucket)
        eng.driver_df_budget = dfs[head] - 1
        before = eng.driver_fallbacks
        _assert_oracle(eng.topk(tail, 10, method=method),
                       oracle.topk(tail, 10))
        assert eng.driver_fallbacks == before, method
        assert any(kind == "rg" and key[0] == bucket
                   for _, kind, key in eng._cache), method
        _assert_oracle(eng.topk(head, 10, method=method),
                       oracle.topk(head, 10))
        assert eng.driver_fallbacks == before + 1, method
        assert (snap.epoch, "dec", head) not in eng._cache, method


def test_wand_plan_per_task_feed(spark, rows, tmp_path, monkeypatch):
    """With a broadcast budget no batch fits, every WAND task reads its
    own terms' blocks through a term directory of its own, and the plan
    ranks as the exhaustive plan: on a built index, after a segment
    append (two files per bucket) and with pending tombstones."""
    monkeypatch.setattr(scoring, "WAND_BROADCAST_BYTES", -1)
    root = str(tmp_path / "idx")
    base, delta = rows[:160], rows[160:220]
    eng = BM25Engine(spark, root).build(_docs(spark, base), n_buckets=8,
                                        salt_df_threshold=30)
    vocab = sorted({t for _, text in base for t in tokenize(text)})
    dfs = eng._term_dfs(eng._snapshot(), vocab)
    head = max(vocab, key=lambda t: dfs[t])
    assert dfs[head] > 30  # a salted term: per-range WAND tasks
    batch = [{"query_id": i, "text": q} for i, q in enumerate(
        ["semudo muro fuboname", f"{head} gaku", "zzqx123"]
        + [" ".join(vocab[i::41][:3]) for i in range(5)])]
    driver_reads = []
    block_batches = termdir.TermDirectory.block_batches
    monkeypatch.setattr(termdir.TermDirectory, "block_batches",
                        lambda self, ids: driver_reads.append(1)
                        or block_batches(self, ids))

    def check(step):
        want = _ranked(eng.query_batch(batch, 10))
        got = _ranked(eng.query_batch_wand(batch, 10))
        assert [g[:3] for g in got] == [w[:3] for w in want], step
        assert all(abs(g[3] - w[3]) <= 1e-9 for g, w in zip(got, want)), step
        assert {g[0] for g in got} == set(range(len(batch))) - {2}, step
        assert driver_reads == [], step

    check("build")
    merge_append(spark, root, _docs(spark, delta))
    pdir = eng.store.postings_dir_for(1)
    assert all(len([f for f in os.listdir(os.path.join(pdir, b))
                    if f.endswith(".parquet")]) == 2
               for b in os.listdir(pdir) if b.startswith("bucket="))
    check("append")
    top = {r["doc_id"] for r in eng.query_batch(batch, k=1).collect()}
    urls = [u for u, _ in base + delta if doc_id_for_url(u) in top]
    assert eng.delete_urls(urls) == len(top) > 1
    check("pending deletes")


def test_plans_read_no_file_the_engine_holds(spark, rows, small_index,
                                             monkeypatch):
    """After the driver has answered a batch's queries, the WAND and the
    exhaustive plan of that batch take every df and block from the
    engine's term directory: neither opens a postings or term_stats file
    on the driver."""
    eng = BM25Engine(spark, small_index)
    oracle = build_oracle(rows[:120])
    vocab = sorted({t for _, text in rows[:120] for t in tokenize(text)})
    texts = ["semudo muro fuboname"] + [" ".join(vocab[i::29][:3])
                                        for i in range(6)]
    batch = [{"query_id": i, "text": q} for i, q in enumerate(texts)]
    for q in texts:
        _assert_oracle(eng.topk(q, 10), oracle.topk(q, 10))
    opened: list[str] = []
    dataset = pads.dataset

    def counting_dataset(source, *args, **kwargs):
        opened.append(str(source))
        return dataset(source, *args, **kwargs)

    class Counting(pq.ParquetFile):
        def __init__(self, source, *args, **kwargs):
            opened.append(str(source))
            super().__init__(source, *args, **kwargs)

    monkeypatch.setattr(pads, "dataset", counting_dataset)
    monkeypatch.setattr(pq, "ParquetFile", Counting)
    index_file = re.compile(r"(postings|term_stats)_e\d+")
    for plan in (eng.query_batch_wand, eng.query_batch):
        opened.clear()
        got = _ranked(plan(batch, 10))
        assert [p for p in opened if index_file.search(p)] == [], plan
        for i, q in enumerate(texts):
            _assert_oracle([(d, s) for qid, _, d, s in got if qid == i],
                           oracle.topk(q, 10))


def test_block_batches_read_no_term_stats(spark, rows, small_index,
                                          monkeypatch):
    """``block_batches`` over in-vocabulary ids (the WAND plan's spec
    rows and broadcast ids) reads postings only: with the term_stats
    reader patched to raise, a fresh directory returns the same rows as
    one that may read it."""
    snap = BM25Engine(spark, small_index)._snapshot()
    vocab = sorted({t for _, text in rows[:120] for t in tokenize(text)})
    ids = [term_id_for(t) for t in vocab[::7]]

    def directory():
        return termdir.TermDirectory(snap.store, snap.epoch, snap.n_buckets,
                                     termdir._Cache())

    want = directory().block_batches(ids)
    assert sorted(want) == sorted(ids)

    def no_stats(self, bucket):
        raise AssertionError(f"term_stats of bucket {bucket} read")

    monkeypatch.setattr(termdir.TermDirectory, "_bucket_dfs", no_stats)
    assert directory().block_batches(ids) == want


def test_wand_broadcast_holds_compact_batches(spark, rows, small_index,
                                              monkeypatch):
    """The WAND plan broadcasts its terms' blocks as one compact batch
    and each term's row span of it: pickled, it is at most twice the
    terms' block bytes beyond what a zero-row batch pickles, although
    each term's row group holds many other terms (a slice of one would
    pickle the whole row group). Checked for a batch of the head term
    alone and for a batch of many terms."""
    eng = BM25Engine(spark, small_index)
    vocab = sorted({t for _, text in rows[:120] for t in tokenize(text)})
    sc = spark.sparkContext
    sent = []
    broadcast = sc.broadcast
    monkeypatch.setattr(sc, "broadcast",
                        lambda value: sent.append(value) or broadcast(value))
    snap = eng._snapshot()
    terms = snap.terms
    dfs = eng._term_dfs(snap, vocab)
    for texts in ([max(vocab, key=dfs.get)],
                  [" ".join(vocab[i::31][:3]) for i in range(5)]):
        sent.clear()
        batch = [{"query_id": i, "text": q} for i, q in enumerate(texts)]
        got = _ranked(eng.query_batch_wand(batch, 10))
        want = _ranked(eng.query_batch(batch, 10))
        assert got and [g[:3] for g in got] == [w[:3] for w in want]
        assert all(abs(g[3] - w[3]) <= 1e-9 for g, w in zip(got, want))
        [(blocks, spans)] = sent
        assert len(spans) == len({t for q in texts for t in tokenize(q)})
        block_bytes = 0
        for tid, (a, z) in spans.items():
            [(rg, s, e)] = terms.slices([tid])[tid]
            assert rg.batch.num_rows >= 10 * (e - s)  # many terms' blocks
            assert blocks.slice(a, z - a) == rg.batch.slice(s, e - s)
            block_bytes += rg.batch.slice(s, e - s).nbytes
        empty = pickle.dumps(blocks.take(np.arange(0)))
        assert len(pickle.dumps(sent[0])) - len(empty) <= 2 * block_bytes


def test_term_directory_does_not_pickle(spark, small_index):
    """A snapshot's term directory holds the engine's cache: pickling
    it, alone or inside its snapshot, raises instead of shipping the
    cache into a task."""
    snap = BM25Engine(spark, small_index)._snapshot()
    for obj in (snap.terms, snap):
        with pytest.raises(TypeError, match="TermDirectory"):
            pickle.dumps(obj)


class _Reads:
    """Counts the postings files the engine opens and the row groups it
    reads, through pyarrow.parquet.ParquetFile."""

    def __init__(self, monkeypatch):
        self.opened: list[str] = []
        self.row_groups: list[tuple[str, int]] = []
        reads = self

        class Counting(pq.ParquetFile):
            def __init__(self, source, *args, **kwargs):
                reads.opened.append(str(source))
                self._counted_path = str(source)
                super().__init__(source, *args, **kwargs)

            def read_row_group(self, i, *args, **kwargs):
                reads.row_groups.append((self._counted_path, i))
                return super().read_row_group(i, *args, **kwargs)

        monkeypatch.setattr(pq, "ParquetFile", Counting)

    def clear(self):
        self.opened.clear()
        self.row_groups.clear()


def test_io_and_decode_counts(spark, rows, tmp_path, monkeypatch):
    """Exact, repeatable I/O and decode counts on the driver path, every
    answer equal to the oracle's."""
    base, delta = rows[:120], rows[120:160]
    root = str(tmp_path / "idx")
    eng = BM25Engine(spark, root).build(_docs(spark, base), **CFG)
    oracle = build_oracle(base)
    reads = _Reads(monkeypatch)
    decodes = []
    decode = codec.decode_blocks_batch
    monkeypatch.setattr(codec, "decode_blocks_batch",
                        lambda blocks: decodes.append(1) or decode(blocks))

    # two in-vocabulary terms of one bucket (one row group: each
    # bucket file of this small index is one row group)
    vocab = sorted({t for _, text in base for t in tokenize(text)})
    first = vocab[0]
    bucket = bucket_of_term(first, CFG["n_buckets"])
    second = next(t for t in vocab[1:]
                  if bucket_of_term(t, CFG["n_buckets"]) == bucket)
    _assert_oracle(eng.topk(first, 10), oracle.topk(first, 10))
    assert len(reads.row_groups) == 1
    assert len(decodes) == 1
    reads.clear()
    _assert_oracle(eng.topk(second, 10), oracle.topk(second, 10))
    assert reads.opened == [] and reads.row_groups == []

    # an OOV term reads no postings and decodes nothing
    reads.clear()
    decodes.clear()
    assert eng.topk("zzqx123", 10) == []
    assert reads.opened == [] and decodes == []

    # three missed terms, three other buckets: one decode call
    seen = {bucket}
    three = []
    for t in vocab:
        b = bucket_of_term(t, CFG["n_buckets"])
        if b not in seen:
            seen.add(b)
            three.append(t)
        if len(three) == 3:
            break
    q = " ".join(three)
    decodes.clear()
    reads.clear()
    _assert_oracle(eng.topk(q, 10), oracle.topk(q, 10))
    assert len(decodes) == 1
    assert len(reads.row_groups) == 3
    # each term's cached postings are its own array, not a view that
    # would keep the whole call's decode alive
    for t in three:
        run = eng._cache.get((eng.store.epoch(), "dec", t))
        assert run.base is None and run.flags.owndata, t
    reads.clear()
    decodes.clear()
    _assert_oracle(eng.topk(q, 10), oracle.topk(q, 10))
    assert reads.opened == [] and decodes == []  # repeatable: all cached

    # after an append only the new epoch's files are opened, by the
    # warm-up of the hot terms and by the queries that follow
    merge_append(spark, root, _docs(spark, delta))
    post = build_oracle(base + delta)
    reads.clear()
    for q2 in (first, second, q, "semudo muro"):
        _assert_oracle(eng.topk(q2, 10), post.topk(q2, 10))
    assert eng.store.epoch() == 1
    new_dir = eng.store.postings_dir_for(1)
    assert reads.opened
    assert all(p.startswith(new_dir + os.sep) for p in reads.opened)
