"""Merge / resume invariants (FIXTURES.md §5.3/5.5/5.6):
- merge(partial indexes) == build(whole corpus): same stats and scores
  after the segment append, identical posting blocks after compaction
- resume after a mid-merge crash yields the identical index
- delete + merge == build over the corpus minus deleted docs
"""

import pytest

from super_rag_spark.index.merge import SimulatedMergeFailure, merge_append
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
