"""Failure semantics of the epoch commit (index/merge.py): lost or
corrupt files stop a merge before its manifest switch, and the switch
itself is durable."""

import os
import stat

import pytest

from super_rag_spark.index.merge import compact_index, merge_append
from super_rag_spark.index.storage import IndexStorage
from super_rag_spark.query.engine import BM25Engine

CFG = dict(n_buckets=8, salt_df_threshold=150)


@pytest.fixture(scope="module")
def rows(spark, webtext_sf0001_path):
    return [(r["url"], r["text"]) for r in
            spark.read.parquet(webtext_sf0001_path).select("url", "text")
            .limit(120).collect()]


def _docs(spark, rs):
    return spark.createDataFrame(rs, "url string, text string")


def test_build_writes_every_bucket_dir(spark, tmp_path):
    """Two docs cannot fill 8 buckets: the empty ones still get dirs,
    postings, term_stats and positions alike, after the build, an
    append and a compaction, so a missing dir always means lost data."""
    eng = BM25Engine(spark, str(tmp_path / "tiny")).build(
        _docs(spark, [("https://t/1", "one"), ("https://t/2", "two")]),
        positions=True, **CFG)
    for step in ("build", "append", "compact"):
        if step == "append":
            merge_append(spark, eng.store.root,
                         _docs(spark, [("https://t/3", "three")]))
        if step == "compact":
            compact_index(spark, eng.store.root)
        epoch = eng.store.epoch()
        for d in (eng.store.postings_dir_for(epoch),
                  eng.store.term_stats_dir_for(epoch),
                  eng.store.positions_dir_for(epoch)):
            assert {n for n in os.listdir(d) if n.startswith("bucket=")} == {
                f"bucket={b}" for b in range(8)}, (step, d)


def test_missing_bucket_dir_fails_loudly(spark, rows, tmp_path):
    """A bucket dir gone from the live epoch must stop both an append
    and a compaction: carrying it forward as empty would drop its
    postings for good."""
    import shutil

    eng = BM25Engine(spark, str(tmp_path / "mb")).build(
        _docs(spark, rows[:100]), **CFG)
    shutil.rmtree(os.path.join(eng.store.postings_dir_for(0), "bucket=3"))

    with pytest.raises(FileNotFoundError, match="bucket 3 of epoch 0"):
        merge_append(spark, eng.store.root, _docs(spark, rows[100:120]))
    assert eng.store.epoch() == 0
    with pytest.raises(FileNotFoundError, match="bucket 3 of epoch 0"):
        compact_index(spark, eng.store.root)
    assert eng.store.epoch() == 0


def test_stats_pass_names_a_lost_postings_bucket(spark, rows, tmp_path,
                                                 monkeypatch):
    """A postings bucket dir of the target epoch lost before the
    term_stats pass stops the append, naming the bucket: summing the
    other buckets' blocks would commit a term_stats table without it."""
    import shutil

    from super_rag_spark.index import merge

    eng = BM25Engine(spark, str(tmp_path / "ls")).build(
        _docs(spark, rows[:100]), **CFG)
    stats_pass, lost = merge.write_term_stats_and_lineage, []

    def lose_a_bucket(spark, store, *, phase, epoch, buckets):
        lost.append(buckets[0])
        shutil.rmtree(os.path.join(store.postings_dir_for(epoch),
                                   f"bucket={lost[0]}"))
        stats_pass(spark, store, phase=phase, epoch=epoch, buckets=buckets)

    monkeypatch.setattr(merge, "write_term_stats_and_lineage", lose_a_bucket)
    with pytest.raises(FileNotFoundError) as err:
        merge_append(spark, eng.store.root, _docs(spark, rows[100:120]))
    assert f"postings bucket {lost[0]} of epoch 1 is missing" in str(err.value)
    assert eng.store.epoch() == 0


@pytest.mark.parametrize("table", ["postings", "term_stats", "positions"])
def test_missing_bucket_dir_fails_queries(spark, rows, tmp_path, table):
    """A query touching a lost postings, term_stats or positions bucket
    dir raises on the driver and distributed paths instead of returning
    only the other buckets' hits (an index-only phrase query for
    positions)."""
    import shutil

    from super_rag_spark.analysis import tokenize
    from super_rag_spark.index.storage import bucket_of_term

    eng = BM25Engine(spark, str(tmp_path / table)).build(
        _docs(spark, rows[:100]), positions=table == "positions", **CFG)
    terms = sorted(set(tokenize(rows[0][1])))
    lost = bucket_of_term(terms[0], CFG["n_buckets"])
    other = next(t for t in terms
                 if bucket_of_term(t, CFG["n_buckets"]) != lost)
    q = f"{terms[0]} {other}"
    shutil.rmtree(os.path.join(getattr(eng.store, f"{table}_dir_for")(0),
                               f"bucket={lost}"))
    if table == "positions":
        with pytest.raises(FileNotFoundError, match=f"bucket {lost} "):
            eng.phrase_topk(q, None, k=10)
        with pytest.raises(FileNotFoundError, match=f"bucket {lost} "):
            eng.phrase_batch([(0, q)], None, k=10).collect()
        return
    with pytest.raises(FileNotFoundError, match=f"bucket {lost} "):
        eng.topk(q, 10)
    for plan in (eng.query_batch, eng.query_batch_wand):
        with pytest.raises(FileNotFoundError, match=f"bucket {lost} "):
            plan([{"query_id": 0, "text": q}], k=10).collect()


def test_corrupt_tombstones_stop_the_merge(spark, rows, tmp_path):
    """An unreadable tombstones file must not read as 'nothing deleted':
    the merge would consume it and resurrect the deleted docs."""
    eng = BM25Engine(spark, str(tmp_path / "ct")).build(
        _docs(spark, rows[:100]), **CFG)
    eng.delete_urls([rows[4][0]])
    tdir = eng.store.tombstones_dir_for(0)
    parts = [n for n in os.listdir(tdir) if n.endswith(".parquet")]
    assert parts
    for n in os.listdir(tdir):
        if n.endswith(".crc"):
            os.remove(os.path.join(tdir, n))
    with open(os.path.join(tdir, parts[0]), "wb") as f:
        f.write(b"not a parquet file" * 8)

    with pytest.raises(Exception):
        merge_append(spark, eng.store.root, _docs(spark, rows[100:120]))
    assert eng.store.epoch() == 0
    assert os.path.isdir(tdir)


def test_empty_tombstones_dir_reads_as_none(spark, tmp_path):
    store = IndexStorage(str(tmp_path / "et"))
    store.write_manifest({"epoch": 0})
    os.makedirs(store.tombstones_dir_for(0))
    open(os.path.join(store.tombstones_dir_for(0), "_SUCCESS"), "w").close()
    assert store.tombstones(spark, 0) is None


def test_manifest_switch_is_fsynced(tmp_path, monkeypatch):
    """The new manifest's bytes are synced before the rename and the
    index directory after it."""
    synced = []
    real_fsync = os.fsync

    def fsync(fd):
        synced.append("dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "file")
        real_fsync(fd)

    store = IndexStorage(str(tmp_path / "m"))
    monkeypatch.setattr(os, "fsync", fsync)
    store.write_manifest({"epoch": 1})
    assert synced == ["file", "dir"]
    assert store.epoch() == 1
