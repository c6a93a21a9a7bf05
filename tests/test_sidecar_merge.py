"""Sidecar (positions + vocab) survival through merges (r5,
index/sidecars.py): after merge_append / compact_index / compact_tail
the sidecars must stay present and EQUAL (as decoded row sets) to a
from-scratch build over the merged live corpus."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from super_rag_spark.index.build import doc_id_expr
from super_rag_spark.index.merge import (compact_index, compact_tail,
                                         merge_append)
from super_rag_spark.index.positions import (DECODED_POSITIONS_SCHEMA,
                                             decode_positions_map_in_pandas)
from super_rag_spark.index.storage import POSITIONS_SCHEMA, IndexStorage
from super_rag_spark.index.vocab import VOCAB_SCHEMA
from super_rag_spark.query.engine import BM25Engine

WORDS = ["alpha", "beta", "gamma", "delta", "omega", "zeta", "kappa",
         "sigma", "lambda", "theta"]


def _text(i: int, bump: int = 0) -> str:
    rng = np.random.RandomState(i * 7 + bump * 1000 + 1)
    return " ".join(WORDS[j] for j in rng.randint(0, len(WORDS), 25))


def _base_rows():
    return [(f"https://sc.example/{i}", _text(i)) for i in range(30)]


def _decoded_positions(spark, store: IndexStorage, epoch: int):
    df = (spark.read.schema(POSITIONS_SCHEMA)
          .parquet(store.positions_dir_for(epoch))
          .mapInPandas(decode_positions_map_in_pandas,
                       schema=DECODED_POSITIONS_SCHEMA))
    return {(r["term_id"], r["doc_id"], tuple(r["positions"]))
            for r in df.collect()}


def _vocab_rows(spark, store: IndexStorage, epoch: int):
    df = (spark.read.schema(VOCAB_SCHEMA)
          .parquet(store.vocab_dir_for(epoch)))
    return {(r["variant"], r["term"], r["df"], r["bucket"])
            for r in df.collect()}


def _fresh_reference(spark, rows, tmp_path, name):
    docs = spark.createDataFrame(rows, "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / name)).build(
        docs, text_is_extracted=True, positions=True, vocab=True,
        n_buckets=8)
    return eng


@pytest.fixture(scope="module")
def merged_setup(spark, tmp_path_factory):
    """base build (+sidecars) -> delete 2 urls -> segment-append a
    delta with 3 upserts + 10 new docs. Returns (engine, expected
    merged corpus rows, tmp_path)."""
    tmp_path = tmp_path_factory.mktemp("sidecar_merge")
    base = _base_rows()
    docs = spark.createDataFrame(base, "url string, text string")
    idx = str(tmp_path / "idx")
    eng = BM25Engine(spark, idx).build(
        docs, text_is_extracted=True, positions=True, vocab=True,
        n_buckets=8)

    deleted = [base[5][0], base[17][0]]
    eng.delete_urls(deleted)

    upserts = [(base[i][0], _text(i, bump=1)) for i in (2, 9, 23)]
    new = [(f"https://sc.example/n{i}", _text(100 + i)) for i in range(10)]
    delta = spark.createDataFrame(upserts + new, "url string, text string")
    merge_append(spark, idx, delta)

    survivors = [r for r in base
                 if r[0] not in deleted
                 and r[0] not in {u for u, _ in upserts}]
    merged_rows = survivors + upserts + new
    return eng, merged_rows, tmp_path


def test_sidecars_survive_segment_merge(spark, merged_setup):
    eng, _, _ = merged_setup
    assert eng.store.has_positions()
    assert eng.store.has_vocab()


def test_merged_vocab_equals_fresh_build(spark, merged_setup):
    eng, merged_rows, tmp_path = merged_setup
    ref = _fresh_reference(spark, merged_rows, tmp_path, "ref_vocab")
    got = _vocab_rows(spark, eng.store, eng.store.epoch())
    want = _vocab_rows(spark, ref.store, 0)
    assert got == want


def test_merged_positions_equal_fresh_build(spark, merged_setup):
    eng, merged_rows, tmp_path = merged_setup
    ref = _fresh_reference(spark, merged_rows, tmp_path, "ref_pos")
    got = _decoded_positions(spark, eng.store, eng.store.epoch())
    want = _decoded_positions(spark, ref.store, 0)
    assert got == want


def test_merged_sidecar_queries_match_fresh(spark, merged_setup):
    """phrase (index-only), fuzzy, and suggest answers off the merged
    index must equal a fresh build's."""
    eng, merged_rows, tmp_path = merged_setup
    ref = _fresh_reference(spark, merged_rows, tmp_path, "ref_q")
    for phrase in ["alpha beta", "gamma delta", "omega zeta"]:
        for slop in (0, 1):
            got = eng.phrase_topk(phrase, None, k=20, slop=slop)
            want = ref.phrase_topk(phrase, None, k=20, slop=slop)
            assert got == want, (phrase, slop)
    # distributed index-only phrase path over the merged sidecar
    got = [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in
           eng.phrase_batch([(0, "alpha beta")], None, k=20)
           .orderBy("rank").collect()]
    want = [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in
            ref.phrase_batch([(0, "alpha beta")], None, k=20)
            .orderBy("rank").collect()]
    assert got == want
    assert eng.fuzzy_topk("alpah gmma", k=10) == ref.fuzzy_topk(
        "alpah gmma", k=10)
    assert eng.suggest("al", k=5) == ref.suggest("al", k=5)
    assert eng.suggest("z", k=5) == ref.suggest("z", k=5)


def test_sidecars_through_compact_and_tail(spark, merged_setup, tmp_path,
                                           bucket_bytes):
    """compact_index consumes tombstones (positions fold to canonical
    blocking, byte for byte a fresh build's files; vocab df drops the
    deleted docs' terms); compact_tail hardlinks both through. Each
    stage must equal a fresh build."""
    eng, merged_rows, _ = merged_setup
    idx = eng.store.root
    # another delete, then full compact
    victim = merged_rows[0][0]
    eng.delete_urls([victim])
    compact_index(spark, idx)
    live_rows = [r for r in merged_rows if r[0] != victim]
    assert eng.store.has_positions() and eng.store.has_vocab()
    ref = _fresh_reference(spark, live_rows, tmp_path, "ref_compact")
    assert (_vocab_rows(spark, eng.store, eng.store.epoch())
            == _vocab_rows(spark, ref.store, 0))
    assert (_decoded_positions(spark, eng.store, eng.store.epoch())
            == _decoded_positions(spark, ref.store, 0))
    assert (bucket_bytes(eng.store.positions_dir_for(eng.store.epoch()))
            == bucket_bytes(ref.store.positions_dir_for(0)))

    # two segment appends then a tail fold: sidecars hardlink through
    extra = [(f"https://sc.example/t{i}", _text(200 + i))
             for i in range(4)]
    merge_append(spark, idx,
                 spark.createDataFrame(extra[:2], "url string, text string"))
    merge_append(spark, idx,
                 spark.createDataFrame(extra[2:], "url string, text string"))
    compact_tail(spark, idx)
    assert eng.store.has_positions() and eng.store.has_vocab()
    ref2 = _fresh_reference(spark, live_rows + extra, tmp_path, "ref_tail")
    assert (_vocab_rows(spark, eng.store, eng.store.epoch())
            == _vocab_rows(spark, ref2.store, 0))
    assert (_decoded_positions(spark, eng.store, eng.store.epoch())
            == _decoded_positions(spark, ref2.store, 0))
    for phrase in ["alpha beta", "kappa sigma"]:
        assert (eng.phrase_topk(phrase, None, k=20)
                == ref2.phrase_topk(phrase, None, k=20)), phrase


def test_resume_replaces_stale_positions(spark, tmp_path):
    """A stale parquet file planted in a hit bucket's positions dir of
    the target epoch, after a crashed append, is gone once the append
    resumes: the dir holds the rewritten file and the staging links, and
    the positions decode as a fresh build's. Every term occurs in one
    doc, so the upsert's range probe hits exactly the buckets of the
    upserted doc's old terms."""
    import os

    import pyarrow.parquet as pq

    from super_rag_spark.index.merge import SimulatedMergeFailure
    from super_rag_spark.index.storage import bucket_of_term

    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    base = [(f"https://t/{i}", f"w{i}a w{i}b w{i}c") for i in range(40)]
    delta = [(base[0][0], "w0a")] + [(f"https://n/{j}", f"n{j}x")
                                     for j in range(12)]
    hit = min(bucket_of_term(t, 8) for t in base[0][1].split())
    eng = BM25Engine(spark, str(tmp_path / "s")).build(
        mk(base), positions=True, n_buckets=8)
    with pytest.raises(SimulatedMergeFailure):
        merge_append(spark, eng.store.root, mk(delta), fail_after_bucket=0)

    pdir = os.path.join(eng.store.positions_dir_for(1), f"bucket={hit}")
    os.makedirs(pdir, exist_ok=True)
    pq.write_table(pq.read_table(os.path.join(
        eng.store.positions_dir_for(0), f"bucket={hit}",
        "part-00000.parquet")), os.path.join(pdir, "part-99999-stale.parquet"))
    staged = os.listdir(os.path.join(eng.store.root, "staging_e1",
                                     "positions_e0", f"bucket={hit}"))
    merge_append(spark, eng.store.root, None)
    assert sorted(os.listdir(pdir)) == sorted(
        ["part-00000.parquet"] + [f"seg1-{f}" for f in staged])
    live = dict(base)
    live.update(delta)
    ref = _fresh_reference(spark, list(live.items()), tmp_path, "ref")
    assert (_decoded_positions(spark, eng.store, 1)
            == _decoded_positions(spark, ref.store, 0))


def test_index_without_sidecars_merges_clean(spark, tmp_path):
    """An index built WITHOUT sidecars must merge exactly as before —
    no staging sidecar builds, no sidecar dirs in the new epoch."""
    import os

    base = _base_rows()[:8]
    docs = spark.createDataFrame(base, "url string, text string")
    idx = str(tmp_path / "nosc")
    eng = BM25Engine(spark, idx).build(docs, text_is_extracted=True,
                                       n_buckets=8)
    delta = spark.createDataFrame(
        [("https://sc.example/x", _text(400))], "url string, text string")
    merge_append(spark, idx, delta)
    ep = eng.store.epoch()
    assert ep == 1
    assert not eng.store.has_positions()
    assert not eng.store.has_vocab()
    assert not os.path.isdir(eng.store.positions_dir_for(ep))
    assert not os.path.isdir(eng.store.vocab_dir_for(ep))


def test_gc_removes_stale_sidecar_dirs(spark, merged_setup):
    """r5 bug fix: positions_e<N>/vocab_e<N> of dead epochs are GC'd
    (the r4 pattern missed them and leaked one dir pair per merge)."""
    import os
    import re

    eng, _, _ = merged_setup
    live = eng.store.epoch()
    pat = re.compile(r"^(positions|vocab)_e(\d+)$")
    for name in os.listdir(eng.store.root):
        m = pat.match(name)
        if m:
            assert int(m.group(2)) == live, name
