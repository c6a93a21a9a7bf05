"""Merge / resume invariants (FIXTURES.md §5.3/5.5/5.6):
- merge(partial indexes) == build(whole corpus): same stats and scores
  after the segment append, identical posting blocks after compaction
- resume after a mid-merge crash yields the identical index
- delete + merge == build over the corpus minus deleted docs
- a resumed merge's term_stats replace what a crashed attempt left
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from super_rag_spark.analysis import term_id_for
from super_rag_spark.index.merge import SimulatedMergeFailure, merge_append
from super_rag_spark.index.storage import bucket_of_term
from super_rag_spark.query.engine import BM25Engine

CFG = dict(n_buckets=8, salt_df_threshold=150)  # force salting on head terms


@pytest.fixture(scope="module")
def corpus(spark, webtext_sf0001_path):
    df = spark.read.parquet(webtext_sf0001_path).select("url", "text").limit(300)
    rows = df.collect()
    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    return mk(rows), mk(rows[:200]), mk(rows[200:])


def test_merge_equals_full_build(spark, corpus, tmp_path, assert_same_index):
    full, part1, part2 = corpus
    a = BM25Engine(spark, str(tmp_path / "a")).build(full, **CFG)
    b = BM25Engine(spark, str(tmp_path / "b")).build(part1, **CFG)
    merge_append(spark, b.store.root, part2)
    assert_same_index(b, a, ["semudo muro", "fuboname", "zibapevi gaku"])


def test_resume_after_crash(spark, corpus, tmp_path, assert_same_index):
    full, part1, part2 = corpus
    a = BM25Engine(spark, str(tmp_path / "a2")).build(full, **CFG)
    c = BM25Engine(spark, str(tmp_path / "c")).build(part1, **CFG)

    with pytest.raises(SimulatedMergeFailure):
        merge_append(spark, c.store.root, part2, fail_after_bucket=2)
    # crashed mid-merge: old epoch still the live one
    assert BM25Engine(spark, c.store.root).manifest["epoch"] == 0
    committed = c.store.committed_buckets("merge", 1)
    assert committed and len(committed) < CFG["n_buckets"]

    # resume without re-supplying the delta (staging reused via lineage)
    merge_append(spark, c.store.root, None)
    c = BM25Engine(spark, c.store.root)
    assert c.manifest["epoch"] == 1
    assert_same_index(c, a, ["semudo muro", "fuboname"])


def test_delete_then_merge_compacts(spark, corpus, tmp_path, assert_same_index):
    full, part1, part2 = corpus
    victims = [r["url"] for r in part1.limit(5).collect()]
    kept = full.where(~full["url"].isin(victims))

    want = BM25Engine(spark, str(tmp_path / "w")).build(kept, **CFG)
    d = BM25Engine(spark, str(tmp_path / "d")).build(part1, **CFG)
    d.delete_urls(victims)
    merge_append(spark, d.store.root, part2)
    d = BM25Engine(spark, d.store.root)

    assert d.store.tombstones(spark) is None  # GC'd by the merge
    assert_same_index(d, want, ["semudo muro", "fuboname"])


def test_resume_replaces_stale_term_stats(spark, tmp_path, assert_same_index):
    """A stale parquet file in the target epoch's term_stats dir of a
    bucket that lost postings (hit) and of one that only gained them
    (gain-only), and one in the hit bucket's postings dir, are gone
    after a crashed merge resumes: each term_stats dir holds one file,
    the postings dir holds the rewritten file and the staging links,
    and the index equals a fresh build. Every term occurs in
    one doc, so each block spans one doc and the upsert's range probe
    hits exactly the buckets of the upserted doc's old terms."""
    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    base = [(f"https://t/{i}", f"w{i}a w{i}b w{i}c") for i in range(40)]
    delta = [(base[0][0], "w0a")] + [(f"https://n/{j}", f"n{j}x")
                                     for j in range(12)]
    nb = CFG["n_buckets"]
    hit = {bucket_of_term(t, nb) for t in base[0][1].split()}
    gain = {bucket_of_term(t, nb) for _, text in delta
            for t in text.split()} - hit
    assert hit and gain
    eng = BM25Engine(spark, str(tmp_path / "s")).build(mk(base), **CFG)
    with pytest.raises(SimulatedMergeFailure):
        merge_append(spark, eng.store.root, mk(delta), fail_after_bucket=0)

    ts_new = eng.store.term_stats_dir_for(1)
    stale = pa.table({"term_id": pa.array([term_id_for("w0a")], pa.int64()),
                      "df": pa.array([7], pa.int64())})
    planted = [min(hit), min(gain)]
    for b in planted:
        os.makedirs(os.path.join(ts_new, f"bucket={b}"), exist_ok=True)
        pq.write_table(stale, os.path.join(ts_new, f"bucket={b}",
                                           "part-99999-stale.parquet"))
    pdir = os.path.join(eng.store.postings_dir_for(1), f"bucket={min(hit)}")
    os.makedirs(pdir, exist_ok=True)
    pq.write_table(pq.read_table(os.path.join(
        eng.store.postings_dir_for(0), f"bucket={min(hit)}",
        "part-00000.parquet")), os.path.join(pdir, "part-99999-stale.parquet"))
    staged = os.listdir(os.path.join(eng.store.root, "staging_e1",
                                     "postings_e0", f"bucket={min(hit)}"))
    merge_append(spark, eng.store.root, None)
    assert sorted(os.listdir(pdir)) == sorted(
        ["part-00000.parquet"] + [f"seg1-{f}" for f in staged])
    for b in planted:
        files = [f for f in os.listdir(os.path.join(ts_new, f"bucket={b}"))
                 if not f.startswith((".", "_"))]
        assert len(files) == 1 and "stale" not in files[0], (b, files)
    live = dict(base)
    live.update(delta)
    want = BM25Engine(spark, str(tmp_path / "w")).build(
        mk(list(live.items())), **CFG)
    assert_same_index(BM25Engine(spark, eng.store.root), want,
                      ["w0a n3x", "w0b w5c", "n11x w39a"])
