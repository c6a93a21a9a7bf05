"""End-to-end rank-identity vs the pure-Python oracle (FIXTURES.md §5.4,
BASELINE.json: "rank-identical top-k docIDs and BM25 scores")."""

import pytest

REL_TOL = 1e-9


def _assert_rank_identical(got: list[tuple[int, float]], want: list[tuple[int, float]], qtext: str):
    assert len(got) == len(want), f"{qtext!r}: {len(got)} vs {len(want)} results"
    for rank, ((gd, gs), (wd, ws)) in enumerate(zip(got, want), start=1):
        assert gd == wd, f"{qtext!r} rank {rank}: doc {gd} != oracle {wd}"
        assert gs == pytest.approx(ws, rel=REL_TOL), f"{qtext!r} rank {rank}: score"


def test_corpus_stats_match(built_index, oracle_index):
    m = built_index.manifest
    assert m["n_docs"] == oracle_index.n_docs
    assert m["avgdl"] == pytest.approx(oracle_index.avgdl, rel=1e-12)


def test_tf_totals_match_corpus(built_index, oracle_index, spark):
    """Invariant 2: sum of tf over postings == total term occurrences."""
    from pyspark.sql import functions as F

    from super_rag_spark.query.scoring import (DECODED_SCHEMA,
                                               decode_postings_map_in_arrow)

    decoded = built_index.store.postings(spark).mapInArrow(
        decode_postings_map_in_arrow, schema=DECODED_SCHEMA)
    total = decoded.agg(F.sum("tf")).collect()[0][0]
    oracle_total = sum(sum(pl.values()) for pl in oracle_index.postings.values())
    assert total == oracle_total


def test_driver_wand_rank_identity_all_queries(built_index, oracle_index, queries100):
    for q in queries100:
        got = built_index.topk(q["text"], q["k"], method="wand")
        # route analog: oracle has no summary index, compare on stripped text
        qtext = q["text"]
        if qtext.split() and qtext.split()[0].lower().startswith("summar"):
            qtext = " ".join(qtext.split()[1:])
        want = oracle_index.topk(qtext, q["k"])
        _assert_rank_identical(got, want, q["text"])


def test_driver_bruteforce_equals_wand(built_index, queries100):
    """method="vectorized", the cached-array scorer, and
    method="wand", block-max WAND, agree exactly, scores included."""
    for q in queries100[:40]:
        w = built_index.topk(q["text"], q["k"], method="wand")
        b = built_index.topk(q["text"], q["k"], method="vectorized")
        assert w == b, q["text"]


def test_distributed_batch_rank_identity(built_index, oracle_index, queries100):
    """The distributed Spark scoring plan must match the oracle too."""
    sample = queries100[:25] + queries100[78:90]
    res = built_index.query_batch(sample, k=10).collect()
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for q in sample:
        got = [(d, s) for _, d, s in sorted(by_q.get(q["query_id"], []))]
        want = oracle_index.topk(q["text"], 10)
        _assert_rank_identical(got, want, q["text"])


def test_empty_and_oov_queries(built_index):
    assert built_index.topk("zzqxnotaword", 10) == []
    assert built_index.topk("", 10) == []


def test_delete_tombstones(built_index, oracle_index, queries100, tmp_path, spark):
    """Invariant 6: deleted urls never appear in subsequent top-k."""
    import shutil

    from super_rag_spark.analysis import doc_id_for_url
    from super_rag_spark.query.engine import BM25Engine

    # work on a copy so the session-scoped index stays pristine
    copy_dir = str(tmp_path / "index_copy")
    shutil.copytree(built_index.store.root, copy_dir)
    eng = BM25Engine(spark, copy_dir)

    q = queries100[0]
    before = eng.topk(q["text"], 10)
    assert before
    victims = [oracle_index.url_of[d] for d, _ in before[:2]]
    n = eng.delete_urls(victims)
    assert n == len(victims)

    after_ids = {d for d, _ in eng.topk(q["text"], 10)}
    batch = eng.query_batch([q], k=10).collect()
    batch_ids = {r["doc_id"] for r in batch}
    for v in victims:
        assert doc_id_for_url(v) not in after_ids
        assert doc_id_for_url(v) not in batch_ids


def test_distributed_wand_batch_rank_identity(built_index, oracle_index, queries100):
    """Distributed per-query WAND == oracle (same queries as the
    exhaustive distributed plan)."""
    sample = queries100[:15] + queries100[78:84]
    res = built_index.query_batch_wand(sample, k=10).collect()
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for q in sample:
        got = [(d, s) for _, d, s in sorted(by_q.get(q["query_id"], []))]
        want = oracle_index.topk(q["text"], 10)
        _assert_rank_identical(got, want, q["text"])
