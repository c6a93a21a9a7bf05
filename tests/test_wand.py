"""WAND == brute force == vectorized on randomized corpora
(FIXTURES.md invariant 4), without Spark — pure codec + scorer. The
cursor WAND and the brute-force scorer are the references."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from super_rag_spark.analysis import BLOCK_SIZE
from super_rag_spark.codec import decode_blocks_batch, encode_block
from super_rag_spark.query.wand import (bruteforce_topk,
                                        vectorized_topk_arrays, wand_topk,
                                        wand_topk_cursor)


def _blocks_for(doc_ids, tfs, dls, n_docs, avgdl, block_size=BLOCK_SIZE):
    """Build in-memory block dicts the way index/build.py does (v3:
    stats-free — block_max_tf/block_min_dl, bound computed at query)."""
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = np.asarray(doc_ids)[order]
    tfs = np.asarray(tfs)[order]
    dls = np.asarray(dls)[order]
    df = len(doc_ids)
    out = []
    for blk, s in enumerate(range(0, len(doc_ids), block_size)):
        e = min(s + block_size, len(doc_ids))
        d_enc, t_enc, l_enc = encode_block(doc_ids[s:e], tfs[s:e], dls[s:e])
        out.append({
            "docs_enc": d_enc, "tfs_enc": t_enc, "dls_enc": l_enc,
            "n": e - s, "first_doc_id": int(doc_ids[s]),
            "last_doc_id": int(doc_ids[e - 1]),
            "block_max_tf": int(tfs[s:e].max()),
            "block_min_dl": int(dls[s:e].min()),
        })
    return df, out


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_wand_equals_bruteforce_random(data):
    rng_seed = data.draw(st.integers(0, 10_000))
    rng = np.random.default_rng(rng_seed)
    n_docs = data.draw(st.integers(50, 2000))
    n_terms = data.draw(st.integers(1, 5))
    avgdl = 120.0
    all_docs = rng.choice(2**40, size=n_docs, replace=False)
    dl_of = {int(d): int(rng.integers(20, 400)) for d in all_docs}

    term_blocks = {}
    for t in range(n_terms):
        df = int(rng.integers(1, n_docs + 1))
        docs = rng.choice(all_docs, size=df, replace=False)
        tfs = rng.integers(1, 12, size=df)
        dls = np.array([dl_of[int(d)] for d in docs])
        term_blocks[f"t{t}"] = _blocks_for(docs, tfs, dls, n_docs, avgdl,
                                           block_size=32)

    k = data.draw(st.integers(1, 20))
    w = wand_topk(term_blocks, n_docs, avgdl, k)
    c = wand_topk_cursor(term_blocks, n_docs, avgdl, k)
    b = bruteforce_topk(term_blocks, n_docs, avgdl, k)
    arrays = {t: (df, *decode_blocks_batch(bl)[:3])
              for t, (df, bl) in term_blocks.items()}
    v = vectorized_topk_arrays(arrays, n_docs, avgdl, k)
    assert [(d, round(s, 9)) for d, s in w] == [(d, round(s, 9)) for d, s in b]
    assert [(d, round(s, 9)) for d, s in c] == [(d, round(s, 9)) for d, s in b]
    assert [(d, round(s, 9)) for d, s in v] == [(d, round(s, 9)) for d, s in b]


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_wand_vec_equals_cursor_with_range_and_allowed(data):
    """r4: the range-vectorized wand_topk must match the per-posting
    cursor reference under doc_range windows AND candidate (allowed)
    masks — the exact modes the distributed per-salt-range WAND uses."""
    rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
    n_docs = data.draw(st.integers(50, 1500))
    n_terms = data.draw(st.integers(1, 4))
    all_docs = rng.choice(2**30, size=n_docs, replace=False)
    dl_of = {int(d): int(rng.integers(20, 400)) for d in all_docs}
    term_blocks = {}
    for t in range(n_terms):
        df = int(rng.integers(1, n_docs + 1))
        docs = rng.choice(all_docs, size=df, replace=False)
        tfs = rng.integers(1, 12, size=df)
        dls = np.array([dl_of[int(d)] for d in docs])
        term_blocks[f"t{t}"] = _blocks_for(docs, tfs, dls, n_docs, 120.0,
                                           block_size=16)
    k = data.draw(st.integers(1, 15))
    lo = data.draw(st.integers(0, 2**29))
    hi = lo + data.draw(st.integers(1, 2**29))
    allowed = None
    if data.draw(st.booleans()):
        allowed = np.unique(rng.choice(
            all_docs, size=max(1, n_docs // 3), replace=False
        ).astype(np.int64))
    w = wand_topk(term_blocks, n_docs, 120.0, k, doc_range=(lo, hi),
                  allowed=allowed)
    c = wand_topk_cursor(term_blocks, n_docs, 120.0, k, doc_range=(lo, hi),
                         allowed=allowed)
    assert [(d, round(s, 9)) for d, s in w] == [(d, round(s, 9)) for d, s in c]


def test_wand_ties_broken_by_doc_id():
    # many docs with IDENTICAL scores at the cutoff
    n = 300
    docs = np.arange(1000, 1000 + n)
    tfs = np.full(n, 3)
    dls = np.full(n, 100)
    df, blocks = _blocks_for(docs, tfs, dls, n_docs=n, avgdl=100.0, block_size=64)
    res = wand_topk({"t": (df, blocks)}, n, 100.0, 10)
    assert [d for d, _ in res] == list(range(1000, 1010))
    assert len({round(s, 9) for _, s in res}) == 1


def test_wand_skips_blocks():
    """The pruning must actually skip: one high-scoring block at the end,
    many low blocks before it; count decoded blocks via a probe on
    decode_blocks_batch (the r4 vectorized path's only decode entry)."""
    from super_rag_spark.query import wand as wand_mod

    n = 64 * 600  # 600 blocks — well past the 256-range theta seed
    docs = np.arange(n)
    tfs = np.ones(n, dtype=np.int64)
    tfs[-64:] = 50  # last block has huge tf
    dls = np.full(n, 100)
    df, blocks = _blocks_for(docs, tfs, dls, n_docs=n, avgdl=100.0, block_size=64)

    decoded_blocks = 0
    orig = wand_mod.decode_blocks_batch

    def probe(blks):
        nonlocal decoded_blocks
        decoded_blocks += len(blks)
        return orig(blks)

    wand_mod.decode_blocks_batch = probe
    try:
        res = wand_topk({"t": (df, blocks)}, n, 100.0, 5)
    finally:
        wand_mod.decode_blocks_batch = orig
    assert [d for d, _ in res] == list(range(n - 64, n - 59))
    # the theta seed decodes <=257 top-bound blocks (the high block is
    # bound-rank 1, so theta locks immediately); the other ~343 low
    # blocks must then be retired WITHOUT decoding
    assert decoded_blocks <= 300

    # cursor reference agrees on the same input
    res_c = wand_topk_cursor({"t": (df, blocks)}, n, 100.0, 5)
    assert [(d, round(s, 9)) for d, s in res] == \
        [(d, round(s, 9)) for d, s in res_c]


def test_approx_wand_guarantee(built_index):
    """r3: approx-WAND (threshold factor F) — F=1.0 stays exact; at
    F>1 every returned doc keeps its exact score and every exact-top-k
    doc it misses provably scores < F * the returned k-th score."""
    from super_rag_spark.fixtures import generate_queries

    checked = 0
    for q in generate_queries()[:30]:
        exact = built_index.topk(q["text"], 10, method="wand")
        assert built_index.topk(q["text"], 10, method="wand",
                                approx=1.0) == exact
        ap = built_index.topk(q["text"], 10, method="wand", approx=1.3)
        if not ap:
            assert not exact
            continue
        exact_scores = dict(exact)
        kth = ap[-1][1]
        for d, s in ap:  # returned docs are exact-scored
            if d in exact_scores:
                assert s == exact_scores[d]
        for d, s in exact:  # misses are quantifiably close
            if d not in dict(ap):
                assert s < 1.3 * kth + 1e-9
        checked += 1
    assert checked >= 25
