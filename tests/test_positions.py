"""r4 positional sidecar: codec roundtrip, chain-match == regex
semantics (property), index-only phrase == match-then-verify phrase."""

import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from super_rag_spark.codec import decode_positions_block, encode_positions_block
from super_rag_spark.index.positions import chain_match


@settings(max_examples=50, deadline=None)
@given(st.data())
def test_positions_codec_roundtrip(data):
    rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
    n = data.draw(st.integers(1, 200))
    docs = np.sort(rng.choice(2**40, size=n, replace=False))
    counts = rng.integers(1, 9, size=n)
    flat = np.concatenate([
        np.sort(rng.choice(5000, size=int(c), replace=False))
        for c in counts])
    d_enc, c_enc, p_enc = encode_positions_block(docs, counts, flat)
    d2, c2, f2 = decode_positions_block(d_enc, c_enc, p_enc, n)
    assert np.array_equal(d2, docs)
    assert np.array_equal(c2, counts)
    assert np.array_equal(f2, flat)


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_chain_match_equals_regex(data):
    """chain_match over positions must accept exactly the docs the
    verify REGEX accepts — the two phrase paths' shared contract."""
    rng = np.random.default_rng(data.draw(st.integers(0, 100_000)))
    vocab = ["a", "b", "c", "d"]
    toks = [vocab[i] for i in rng.integers(0, len(vocab),
                                           size=int(rng.integers(3, 40)))]
    plen = int(rng.integers(2, 4))
    phrase = [vocab[i] for i in rng.integers(0, len(vocab), size=plen)]
    slop = int(rng.integers(0, 3))

    # regex semantics (query/phrase.phrase_pattern on the padded stream)
    gap = r"( [a-z0-9]+){0,%d}" % slop
    pat = " " + (gap + " ").join(phrase) + " "
    jt = " " + " ".join(toks) + " "
    want = re.search(pat, jt) is not None

    pos = {t: np.array([i for i, x in enumerate(toks) if x == t],
                       dtype=np.int64) for t in set(phrase)}
    if any(len(pos[t]) == 0 for t in phrase):
        got = False
    else:
        got = chain_match([pos[t] for t in phrase], slop)
    assert got == want, (toks, phrase, slop)


def _corpus(spark):
    rows = [(f"https://p.example/{i}",
             ["alpha beta gamma delta", "alpha xx beta gamma",
              "alpha xx yy beta", "beta alpha delta",
              "alpha beta alpha beta"][i % 5] + f" pad{i} tail{i % 3}")
            for i in range(30)]
    return spark.createDataFrame(rows, "url string, text string")


@pytest.fixture(scope="module")
def pos_engine(spark, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    idx = str(tmp_path_factory.mktemp("posidx") / "idx")
    docs = _corpus(spark)
    eng = BM25Engine(spark, idx).build(docs, positions=True,
                                       text_is_extracted=True)
    assert eng.store.has_positions()
    return eng


def test_index_only_phrase_equals_verify_path(spark, pos_engine):
    docs = _corpus(spark)
    for phrase, slop in [("alpha beta", 0), ("alpha beta", 1),
                         ("alpha beta", 2), ("beta gamma", 0),
                         ("alpha beta alpha", 0), ("beta alpha", 0),
                         ("alpha zzznope", 0)]:
        via_pos = pos_engine.phrase_topk(phrase, k=30, slop=slop)
        via_text = pos_engine.phrase_topk(phrase, docs, k=30, slop=slop)
        assert via_pos == via_text, (phrase, slop)


def test_distributed_positions_equals_verify_path(spark, pos_engine):
    from super_rag_spark.query.phrase import score_phrase_batch

    docs = _corpus(spark)
    phrases = [(0, "alpha beta"), (1, "beta gamma"), (2, "beta alpha")]
    for slop in (0, 1):
        via_pos = score_phrase_batch(spark, pos_engine._snapshot(), None,
                                     phrases, k=30, slop=slop)
        via_text = score_phrase_batch(spark, pos_engine._snapshot(), docs,
                                      phrases, k=30, slop=slop)
        key = ["query_id", "rank", "doc_id"]
        a = sorted(tuple(r) for r in via_pos.select(*key).collect())
        b = sorted(tuple(r) for r in via_text.select(*key).collect())
        assert a == b, slop


def test_positions_absent_raises_and_merge_degrades(spark, tmp_path):
    from pyspark.sql import functions as F

    from super_rag_spark.index.merge import merge_append
    from super_rag_spark.query.engine import BM25Engine

    idx = str(tmp_path / "noposidx")
    docs = _corpus(spark)
    eng = BM25Engine(spark, idx).build(docs, text_is_extracted=True)
    with pytest.raises(ValueError, match="positional sidecar"):
        eng.phrase_topk("alpha beta", k=5)

    idx2 = str(tmp_path / "mergeposidx")
    eng2 = BM25Engine(spark, idx2).build(docs, positions=True,
                                         text_is_extracted=True)
    assert eng2.store.has_positions()
    base = eng2.phrase_topk("alpha beta", k=30)
    delta = docs.limit(3).select(
        F.concat(F.lit("new://"), F.col("url")).alias("url"), "text")
    merge_append(spark, idx2, delta)
    # r5 (index/sidecars.py): the sidecar is CARRIED through the merge —
    # index-only phrase keeps working over the merged epoch
    assert eng2.store.has_positions()
    after = eng2.phrase_topk("alpha beta", k=50)
    assert {d for d, _ in base} <= {d for d, _ in after}
    # full test of carried-sidecar == fresh-build equality lives in
    # tests/test_sidecar_merge.py; the degradation contract (staging
    # sidecar lost -> has_positions() false, verify-path fallback) in
    # test_sidecar_merge.test_index_without_sidecars_merges_clean


def test_sidecars_keep_one_copy_of_a_duplicate_url(spark, tmp_path):
    """A sidecar corpus with one url duplicated and another missing has
    as many rows as the index has docs, so a row-count probe passes it.
    The sidecar builds still keep one copy of the duplicated doc: its
    positions are those of its text, and a term only it holds has vocab
    df 1."""
    from super_rag_spark.analysis import doc_id_for_url, tokenize
    from super_rag_spark.index.positions import build_positions
    from super_rag_spark.index.vocab import build_vocab
    from super_rag_spark.query.engine import BM25Engine

    docs = _corpus(spark)
    rows = [(r["url"], r["text"]) for r in docs.collect()]
    idx = str(tmp_path / "dupidx")
    BM25Engine(spark, idx).build(docs, text_is_extracted=True)
    skewed = spark.createDataFrame(rows[:-1] + rows[:1],
                                   "url string, text string")
    assert skewed.count() == len(rows)
    build_positions(spark, skewed, idx, text_is_extracted=True)
    build_vocab(spark, skewed, idx, text_is_extracted=True)

    eng = BM25Engine(spark, idx)
    snap = eng._snapshot()
    doc0, toks = doc_id_for_url(rows[0][0]), tokenize(rows[0][1])
    for term in sorted(set(toks)):
        got_docs, off, flat = eng._load_positions_term(snap, term)
        i = int(np.searchsorted(got_docs, doc0))
        assert got_docs[i] == doc0, term
        assert flat[off[i]:off[i + 1]].tolist() == [
            p for p, t in enumerate(toks) if t == term], term
    assert "pad0" in toks
    assert eng.suggest("pad0", 5) == [("pad0", 1)]


def test_positions_build_needs_corpus_stats(spark, tmp_path):
    """build_positions sizes its build from the epoch's corpus_stats; a
    lost corpus_stats table raises instead of quietly taking the
    streaming path."""
    import shutil

    from pyspark.errors import AnalysisException

    from super_rag_spark.index.positions import build_positions
    from super_rag_spark.query.engine import BM25Engine

    docs = _corpus(spark)
    eng = BM25Engine(spark, str(tmp_path / "nocs")).build(
        docs, text_is_extracted=True)
    shutil.rmtree(eng.store.corpus_stats_dir_for(0))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        build_positions(spark, docs, eng.store.root)
    assert not eng.store.has_positions()
