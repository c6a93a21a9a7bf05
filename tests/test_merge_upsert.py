"""v3 merge semantics: upserts, delete+re-add, exactly-once stream
batches and the bulk-removal path. (O(delta) evidence — untouched
files hardlinked, not rewritten — lives in test_segments.py.)"""

import pytest

from super_rag_spark.index import merge
from super_rag_spark.index.merge import merge_append
from super_rag_spark.query.engine import BM25Engine

CFG = dict(n_buckets=8, salt_df_threshold=150)


def _rows(eng, spark):
    df = eng.store.postings(spark).select(
        "term_id", "salt", "block_id", "n", "first_doc_id", "last_doc_id",
        "docs_enc", "tfs_enc", "dls_enc", "block_max_tf", "block_min_dl",
        "bucket")
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def base_rows(spark, webtext_sf0001_path):
    return (spark.read.parquet(webtext_sf0001_path)
            .select("url", "text").limit(120).collect())


def test_upsert_replaces_old_postings(spark, base_rows, tmp_path,
                                     assert_same_index):
    """Re-ingesting an existing url must replace its postings (reference
    upsert-by-id semantics), never double-count df/n_docs."""
    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    old = base_rows[:100]
    changed = [(old[5]["url"], "totally new replacement body text")]
    added = base_rows[100:110]
    updated_corpus = old[:5] + old[6:] + [
        type(old[5])(url=changed[0][0], text=changed[0][1])] + added

    want = BM25Engine(spark, str(tmp_path / "w")).build(mk(updated_corpus), **CFG)
    got = BM25Engine(spark, str(tmp_path / "g")).build(mk(old), **CFG)
    merge_append(spark, got.store.root, mk(list(changed) + [(r["url"], r["text"]) for r in added]))
    assert want.manifest["n_docs"] == 110
    assert_same_index(got, want, ["totally new replacement", "semudo muro"])


def test_delete_then_readd_same_cycle(spark, base_rows, tmp_path,
                                     assert_same_index):
    """delete(url) + re-ingest(url) in ONE merge cycle: the new version
    must survive (tombstones apply to old-epoch rows only)."""
    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    old = base_rows[:80]
    victim = old[3]["url"]
    new_body = "resurrected body with fresh words"

    eng = BM25Engine(spark, str(tmp_path / "e")).build(mk(old), **CFG)
    eng.delete_urls([victim])
    merge_append(spark, eng.store.root, mk([(victim, new_body)]))

    want_corpus = old[:3] + old[4:] + [type(old[3])(url=victim, text=new_body)]
    want = BM25Engine(spark, str(tmp_path / "w2")).build(mk(want_corpus), **CFG)
    assert want.manifest["n_docs"] == 80
    assert want.topk("resurrected fresh", 5)
    assert_same_index(eng, want, ["resurrected fresh", "semudo muro"])


def test_stream_batch_id_exactly_once(spark, base_rows, tmp_path):
    """A replayed stream_batch_id must be a no-op: same epoch, same
    rows, no double-counted docs."""
    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "s")).build(mk(base_rows[:60]), **CFG)
    delta = mk([(r["url"], r["text"]) for r in base_rows[60:80]])

    merge_append(spark, eng.store.root, delta, stream_batch_id=7)
    m1 = BM25Engine(spark, eng.store.root).manifest
    rows1 = _rows(BM25Engine(spark, eng.store.root), spark)

    merge_append(spark, eng.store.root, delta, stream_batch_id=7)  # replay
    m2 = BM25Engine(spark, eng.store.root).manifest
    assert m2["epoch"] == m1["epoch"]
    assert m2["n_docs"] == m1["n_docs"] == 80
    assert _rows(BM25Engine(spark, eng.store.root), spark) == rows1

    # a NEWER batch id still applies
    merge_append(spark, eng.store.root,
                 mk([(r["url"], r["text"]) for r in base_rows[80:90]]),
                 stream_batch_id=8)
    m3 = BM25Engine(spark, eng.store.root).manifest
    assert m3["n_docs"] == 90 and m3["stream_batch_id"] == 8


def test_bulk_removal_path_bit_identical(spark, base_rows, tmp_path,
                                        monkeypatch, assert_same_index):
    """REMOVED_DRIVER_MAX=0 forces the BULK-removal branch (removed set
    stays distributed, no probe, every bucket rebuilds): the result must
    still match a fresh build over the logical corpus."""
    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    old = base_rows[:100]
    victims = [old[2]["url"], old[9]["url"]]
    added = [(r["url"], r["text"]) for r in base_rows[100:115]]

    eng = BM25Engine(spark, str(tmp_path / "blk")).build(mk(old), **CFG)
    eng.delete_urls(victims)
    monkeypatch.setattr(merge, "REMOVED_DRIVER_MAX", 0)
    merge_append(spark, eng.store.root, mk(added))

    want_corpus = ([r for r in old if r["url"] not in victims]
                   + [type(old[0])(url=u, text=t) for u, t in added])
    want = BM25Engine(spark, str(tmp_path / "blkw")).build(mk(want_corpus), **CFG)
    assert_same_index(eng, want, ["semudo muro", "fuboname"])
