"""Segment-mode (Lucene-style) appends:
- a pure append decodes and rewrites NOTHING (every old bucket file
  hardlinks through; the delta arrives as seg=<epoch> files);
- scores after any mix of segment appends / upserts / deletes are
  identical to a from-scratch build over the live corpus;
- compact_index() folds segments back to seg=0, bit-identical to a
  from-scratch build (FIXTURES.md invariant 5 extended).
"""

import os

import pytest

from super_rag_spark.index.merge import (SimulatedMergeFailure, compact_index,
                                         merge_append)
from super_rag_spark.query.engine import BM25Engine

CFG = dict(n_buckets=8, salt_df_threshold=150)
QUERIES = ["semudo muro", "fuboname", "zibapevi gaku", "semudo fuboname muro"]


def _rows(eng, spark):
    df = eng.store.postings(spark).select(
        "term_id", "salt", "block_id", "n", "first_doc_id", "last_doc_id",
        "docs_enc", "tfs_enc", "dls_enc", "block_max_tf", "block_min_dl",
        "bucket")
    return sorted(tuple(r) for r in df.collect())


def _term_stats(eng, spark):
    return sorted(tuple(r) for r in eng.store.term_stats(spark).collect())


def _r9(hits):
    """Engine rank contract: ties broken at round(score, 9). The merged
    avgdl can differ from a fresh build's in the last ulp (different
    float summation order over the same doc set), so exact-float
    comparisons across indexes are not meaningful below 9 dp."""
    return [(d, round(s, 9)) for d, s in hits]


@pytest.fixture(scope="module")
def corpus(spark, webtext_sf0001_path):
    df = spark.read.parquet(webtext_sf0001_path).select("url", "text").limit(300)
    rows = df.collect()
    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    return rows, mk


def test_pure_segment_append_rewrites_nothing(spark, corpus, tmp_path):
    """THE O(delta) invariant: appending fresh docs must hardlink every
    old posting file (same inode) and only ADD seg files."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "s")).build(mk(rows[:200]), **CFG)

    pdir = eng.store.postings_dir_for(0)
    old_inodes = {}
    for b in os.listdir(pdir):
        if b.startswith("bucket="):
            d = os.path.join(pdir, b)
            old_inodes[b] = {f: os.stat(os.path.join(d, f)).st_ino
                             for f in os.listdir(d) if f.endswith(".parquet")}

    merge_append(spark, eng.store.root, mk(rows[200:300]), mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["epoch"] == 1

    new_pdir = eng.store.postings_dir_for(1)
    for b, files in old_inodes.items():
        d = os.path.join(new_pdir, b)
        new_inodes = {f: os.stat(os.path.join(d, f)).st_ino
                      for f in os.listdir(d) if f.endswith(".parquet")}
        # every old file carried over as a hardlink...
        for f, ino in files.items():
            assert new_inodes.get(f) == ino, f"{b}/{f} was rewritten"
        # ...and the delta arrived as seg files (head buckets certainly)
        seg_files = [f for f in new_inodes if f.startswith("seg1-")]
        assert set(new_inodes) == set(files) | set(seg_files)

    # scores identical to a from-scratch build over all 300
    want = BM25Engine(spark, str(tmp_path / "w")).build(mk(rows[:300]), **CFG)
    for q in QUERIES:
        assert _r9(eng.topk(q, 10, method="wand")) == _r9(want.topk(q, 10, method="wand"))
        assert _r9(eng.topk(q, 10, method="vectorized")) == _r9(want.topk(q, 10))
    assert _term_stats(eng, spark) == _term_stats(want, spark)


def test_segment_upsert_delete_scores_exact(spark, corpus, tmp_path):
    """Upsert + delete via segment mode: only hit groups rebuild, and
    scores match a fresh build over the logical corpus exactly."""
    rows, mk = corpus
    old = rows[:150]
    victim = old[7]["url"]
    changed = (old[3]["url"], "totally new replacement body semudo")
    added = [(r["url"], r["text"]) for r in rows[150:200]]

    eng = BM25Engine(spark, str(tmp_path / "u")).build(mk(old), **CFG)
    eng.delete_urls([victim])
    merge_append(spark, eng.store.root, mk([changed] + added), mode="segment")
    eng = BM25Engine(spark, eng.store.root)

    want_corpus = ([r for r in old if r["url"] not in (victim, changed[0])]
                   + [type(old[0])(url=changed[0], text=changed[1])]
                   + [type(old[0])(url=u, text=t) for u, t in added])
    want = BM25Engine(spark, str(tmp_path / "uw")).build(mk(want_corpus), **CFG)

    assert eng.manifest["n_docs"] == want.manifest["n_docs"]
    assert eng.manifest["avgdl"] == pytest.approx(want.manifest["avgdl"], rel=1e-12)
    assert _term_stats(eng, spark) == _term_stats(want, spark)
    for q in QUERIES + ["replacement body"]:
        assert _r9(eng.topk(q, 10, method="wand")) == _r9(want.topk(q, 10, method="wand"))
        assert _r9(eng.topk(q, 10, method="vectorized")) == _r9(want.topk(q, 10))


def test_distributed_paths_see_segments(spark, corpus, tmp_path):
    """query_batch and query_batch_wand over a segmented index match the
    driver path and a fresh build."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "d")).build(mk(rows[:200]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[200:260]), mode="segment")
    eng = BM25Engine(spark, eng.store.root)

    batch = [{"query_id": i, "text": q} for i, q in enumerate(QUERIES)]
    exhaustive = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
                  for r in eng.query_batch(batch, k=10).collect()}
    wand = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
            for r in eng.query_batch_wand(batch, k=10).collect()}
    assert exhaustive == wand
    for i, q in enumerate(QUERIES):
        driver = eng.topk(q, 10)
        dist = [(exhaustive[(i, r)][0], exhaustive[(i, r)][1])
                for r in range(1, len(driver) + 1)]
        assert [(d, round(s, 9)) for d, s in driver] == dist


def test_compact_restores_bit_identity(spark, corpus, tmp_path):
    """build ⊕ segment-append ⊕ segment-append ⊕ compact == fresh build,
    block for block."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "c")).build(mk(rows[:150]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[150:220]), mode="segment")
    merge_append(spark, eng.store.root, mk(rows[220:300]), mode="segment")
    compact_index(spark, eng.store.root)
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["epoch"] == 3

    want = BM25Engine(spark, str(tmp_path / "cw")).build(mk(rows[:300]), **CFG)
    assert eng.manifest["n_docs"] == want.manifest["n_docs"]
    assert _rows(eng, spark) == _rows(want, spark)
    assert _term_stats(eng, spark) == _term_stats(want, spark)


def test_segment_resume_after_crash(spark, corpus, tmp_path):
    """Crash mid-segment-merge, resume without re-supplying the delta;
    result identical to an uninterrupted segment merge."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "r")).build(mk(rows[:150]), **CFG)
    eng.delete_urls([rows[2]["url"]])  # force a rebuild bucket too
    with pytest.raises(SimulatedMergeFailure):
        merge_append(spark, eng.store.root, mk(rows[150:200]),
                     mode="segment", fail_after_bucket=2)
    assert BM25Engine(spark, eng.store.root).manifest["epoch"] == 0
    merge_append(spark, eng.store.root, None, mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["epoch"] == 1

    want_corpus = [r for r in rows[:200] if r["url"] != rows[2]["url"]]
    want = BM25Engine(spark, str(tmp_path / "rw")).build(mk(want_corpus), **CFG)
    assert eng.manifest["n_docs"] == want.manifest["n_docs"]
    for q in QUERIES:
        assert _r9(eng.topk(q, 10)) == _r9(want.topk(q, 10))


def test_mode_mismatch_resume_restarts_epoch(spark, corpus, tmp_path):
    """A merge crashed in one mode and resumed with new_docs_df in the
    other must wipe the stale staging/partial epoch and still land
    score-exact; resuming WITHOUT the delta raises instead."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "mm")).build(mk(rows[:150]), **CFG)
    delta = mk(rows[150:200])
    with pytest.raises(SimulatedMergeFailure):
        merge_append(spark, eng.store.root, delta,
                     mode="rebuild", fail_after_bucket=1)
    with pytest.raises(ValueError):
        merge_append(spark, eng.store.root, None, mode="segment")
    merge_append(spark, eng.store.root, delta, mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["epoch"] == 1 and eng.manifest["n_docs"] == 200

    want = BM25Engine(spark, str(tmp_path / "mmw")).build(mk(rows[:200]), **CFG)
    for q in QUERIES:
        assert _r9(eng.topk(q, 10)) == _r9(want.topk(q, 10))


def test_pending_tombstones_over_segments(spark, corpus, tmp_path):
    """delete_urls AFTER a segment append (no merge yet): lazy tombstones
    must hide docs living in the OLD segment and the NEW one alike, on
    the driver path and both distributed paths."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "pt")).build(mk(rows[:150]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[150:220]), mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    victims = [rows[5]["url"], rows[160]["url"]]  # one per segment
    eng.delete_urls(victims)

    want_corpus = [r for r in rows[:220] if r["url"] not in victims]
    want = BM25Engine(spark, str(tmp_path / "ptw")).build(mk(want_corpus), **CFG)

    for q in QUERIES:
        assert _r9(eng.topk(q, 10)) != []  # sanity: queries still hit
        got_ids = [d for d, _ in eng.topk(q, 10)]
        want_ids = [d for d, _ in want.topk(q, 10)]
        # n_docs/avgdl still count tombstoned docs until the next merge
        # (lazy delete semantics), so scores shift; the HIT SET must
        # already exclude the victims on every path
        from super_rag_spark.analysis import doc_id_for_url
        dead = {doc_id_for_url(u) for u in victims}
        assert not (set(got_ids) & dead)
        batch = [{"query_id": 0, "text": q}]
        for res in (eng.query_batch(batch, k=10),
                    eng.query_batch_wand(batch, k=10)):
            ids = {r["doc_id"] for r in res.collect()}
            assert not (ids & dead)
        assert set(got_ids) <= set(want_ids) | dead  # no resurrected docs


def _segmented(spark, corpus, path):
    """200 docs plus a 100-doc segment: each term's segment runs
    interleave in doc_id."""
    rows, mk = corpus
    eng = BM25Engine(spark, path).build(mk(rows[:200]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[200:300]), mode="segment")
    return BM25Engine(spark, eng.store.root)


def test_explain_sums_to_score_on_segments(spark, corpus, tmp_path):
    """explain_topk over a segmented index: for every hit, the
    contributions summed in term order give exactly the topk score."""
    eng = _segmented(spark, corpus, str(tmp_path / "ex"))
    n_hits = 0
    for q in QUERIES:
        rows = eng.explain_topk(q, 50)
        for d, score in eng.topk(q, 50):
            total = 0.0
            for r in sorted((r for r in rows if r["doc_id"] == d),
                            key=lambda r: r["term"]):
                total += r["contrib"]
            assert total == score, (q, d)
            n_hits += 1
    assert n_hits > 50


def test_pending_delete_keeps_decoded_cache(spark, corpus, tmp_path,
                                            monkeypatch):
    """After delete_urls the deleted docs leave every driver path, every
    other hit keeps its exact score (df, n_docs and avgdl are those of
    the unmasked index), and a repeated query decodes nothing."""
    from pyspark.sql import functions as F

    from super_rag_spark import codec
    from super_rag_spark.analysis import doc_id_for_url, tokenize
    from super_rag_spark.query import wand

    rows, mk = corpus
    eng = _segmented(spark, corpus, str(tmp_path / "pd"))
    docs = mk(rows[:300])
    phrase = " ".join(tokenize(rows[10]["text"])[:2])
    wide = 400  # wider than any match set: no hit drops out of the window
    calls = {
        "topk": lambda: eng.topk("semudo muro fuboname", wide),
        "weighted": lambda: eng.weighted_topk("semudo^2 muro gaku", wide),
        "boolean": lambda: eng.boolean_topk("semudo OR fuboname NOT muro",
                                            wide),
        "phrase": lambda: eng.phrase_topk(phrase, docs, k=wide),
        "search": lambda: [
            (r["doc_id"], r["score"]) for r in eng.search(
                "zibapevi gaku semudo", wide,
                where=F.col("dl") > 0).collect()],
    }
    wand_calls = {
        "wand": lambda: eng.topk("semudo muro fuboname", wide,
                                 method="wand"),
        "approx": lambda: eng.topk("semudo muro fuboname", wide,
                                   method="wand", approx=1.5),
        "search_wand": lambda: [
            (r["doc_id"], r["score"]) for r in eng.search(
                "zibapevi gaku semudo", wide, method="wand",
                where=F.col("dl") > 0).collect()],
    }
    before = {name: fn() for name, fn in {**calls, **wand_calls}.items()}
    url_of = {doc_id_for_url(r["url"]): r["url"] for r in rows[:300]}
    dead = {hits[0][0] for hits in before.values()}
    eng.delete_urls([url_of[d] for d in dead])

    decodes = []
    for mod in (codec, wand):
        orig = mod.decode_blocks_batch
        monkeypatch.setattr(
            mod, "decode_blocks_batch",
            lambda blocks, _orig=orig: decodes.append(1) or _orig(blocks))
    for rep in range(2):
        decodes.clear()
        for name, fn in calls.items():
            got = fn()
            assert got == [h for h in before[name] if h[0] not in dead], name
        assert not decodes  # the decoded cache serves every array path
    for name, fn in wand_calls.items():
        assert fn() == [h for h in before[name] if h[0] not in dead], name


def test_long_lived_engine_follows_epoch_swap(spark, corpus, tmp_path):
    """An engine created BEFORE an out-of-band segment merge must serve
    the new epoch afterwards (the old epoch's dirs are GC'd by the
    merge; a stale cached manifest would read deleted files)."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "ll")).build(mk(rows[:150]), **CFG)
    before = eng.topk("semudo muro", 5)
    assert before  # warm the caches on epoch 0

    merge_append(spark, eng.store.root, mk(rows[150:250]), mode="segment")
    # SAME engine object: must notice the manifest swap, serve epoch 1
    assert int(eng.manifest["epoch"]) == 1
    assert eng.manifest["n_docs"] == 250
    want = BM25Engine(spark, eng.store.root)
    assert _r9(eng.topk("semudo muro", 5)) == _r9(want.topk("semudo muro", 5))
    assert _r9(eng.topk("fuboname", 5)) == _r9(want.topk("fuboname", 5))


def test_segment_counter_and_maybe_compact(spark, corpus, tmp_path):
    """manifest n_segments tracks live segments; maybe_compact folds
    only past the threshold."""
    from super_rag_spark.index.merge import maybe_compact

    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "sc")).build(mk(rows[:100]), **CFG)
    assert eng.manifest.get("n_segments") == 1
    merge_append(spark, eng.store.root, mk(rows[100:140]), mode="segment")
    merge_append(spark, eng.store.root, mk(rows[140:180]), mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["n_segments"] == 3

    assert maybe_compact(spark, eng.store.root, max_segments=4) is False
    assert BM25Engine(spark, eng.store.root).manifest["n_segments"] == 3
    assert maybe_compact(spark, eng.store.root, max_segments=2) is True
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["n_segments"] == 1
    segs = {r["seg"] for r in
            eng.store.postings(spark).select("seg").distinct().collect()}
    assert segs == {0}


def test_compact_resume_after_crash(spark, corpus, tmp_path):
    """Crash mid-compaction (after 3 committed bucket waves), resume:
    result bit-identical to an uninterrupted compaction AND to a fresh
    build — wave-based compaction with per-bucket lineage (ADVICE r2:
    compaction must never be one unresumable O(index) job)."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "cr")).build(mk(rows[:150]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[150:250]), mode="segment")
    eng.delete_urls([rows[5]["url"]])  # compaction must consume this

    with pytest.raises(SimulatedMergeFailure):
        compact_index(spark, eng.store.root, fail_after_bucket=2)
    # crashed mid-compaction: old epoch still live, partial commits exist
    assert BM25Engine(spark, eng.store.root).manifest["epoch"] == 1
    committed = eng.store.committed_buckets("compact", 2)
    assert committed and len(committed) < CFG["n_buckets"]

    compact_index(spark, eng.store.root)  # resume
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["epoch"] == 2
    assert eng.manifest["n_segments"] == 1

    kept = [r for i, r in enumerate(rows[:250]) if i != 5]
    want = BM25Engine(spark, str(tmp_path / "crw")).build(mk(kept), **CFG)
    assert eng.manifest["n_docs"] == want.manifest["n_docs"]
    assert _rows(eng, spark) == _rows(want, spark)
    assert _term_stats(eng, spark) == _term_stats(want, spark)


def test_merge_after_crashed_compact_starts_clean(spark, corpus, tmp_path):
    """A merge_append landing on the epoch of a CRASHED compaction must
    wipe the partial compact output instead of hardlinking over it."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "mc")).build(mk(rows[:150]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[150:200]), mode="segment")
    with pytest.raises(SimulatedMergeFailure):
        compact_index(spark, eng.store.root, fail_after_bucket=1)

    merge_append(spark, eng.store.root, mk(rows[200:260]), mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["epoch"] == 2
    assert not eng.store.committed_buckets("compact", 2)  # wiped

    want = BM25Engine(spark, str(tmp_path / "mcw")).build(mk(rows[:260]), **CFG)
    batch = [{"query_id": i, "text": q, "k": 10} for i, q in enumerate(QUERIES)]
    got = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
           for r in eng.query_batch(batch, k=10).collect()}
    exp = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
           for r in want.query_batch(batch, k=10).collect()}
    assert got == exp


def test_epoch_switch_cache_warmup(spark, corpus, tmp_path):
    """r3: a long-lived engine crossing an out-of-band merge must (a)
    drop stale old-epoch cache entries and (b) eagerly re-decode the
    previously-hot terms at the new epoch (engine._warm_new_epoch), so
    post-append serving stays warm instead of re-running cold."""
    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "wu")).build(mk(rows[:200]), **CFG)
    eng.topk("semudo muro", 10)  # hot terms at epoch 0
    assert any(e == 0 and kind == "dec" for e, kind, _ in eng._cache)

    merge_append(spark, eng.store.root, mk(rows[200:260]), mode="segment")
    assert eng.manifest["epoch"] == 1  # staleness detection + warm-up
    assert list(eng._cache) and all(e == 1 for e, _, _ in eng._cache)
    assert {"semudo", "muro"} <= {t for _, kind, t in eng._cache
                                  if kind == "dec"}

    fresh = BM25Engine(spark, eng.store.root)
    assert _r9(eng.topk("semudo muro", 10)) == _r9(fresh.topk("semudo muro", 10))


def test_tiered_compact_tail(spark, corpus, tmp_path):
    """r3: compact_tail folds every segment except the largest into ONE
    new segment — scores and term_stats unchanged, base segment never
    decoded — and resumes from a mid-fold crash."""
    from super_rag_spark.index.merge import compact_tail

    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "tt")).build(mk(rows[:150]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[150:200]), mode="segment")
    merge_append(spark, eng.store.root, mk(rows[200:240]), mode="segment")
    merge_append(spark, eng.store.root, mk(rows[240:300]), mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["n_segments"] == 4

    with pytest.raises(SimulatedMergeFailure):
        compact_tail(spark, eng.store.root, fail_after_bucket=2)
    assert BM25Engine(spark, eng.store.root).manifest["epoch"] == 3  # still live
    compact_tail(spark, eng.store.root)  # resume
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["epoch"] == 4
    assert eng.manifest["n_segments"] == 2
    segs = {int(r["seg"]) for r in
            eng.store.postings(spark).select("seg").distinct().collect()}
    assert segs == {0, 4}  # base + one folded tail segment

    want = BM25Engine(spark, str(tmp_path / "ttw")).build(mk(rows[:300]), **CFG)
    assert _term_stats(eng, spark) == _term_stats(want, spark)
    for q in QUERIES:
        assert _r9(eng.topk(q, 10)) == _r9(want.topk(q, 10))
    batch = [{"query_id": i, "text": q, "k": 10} for i, q in enumerate(QUERIES)]
    got = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
           for r in eng.query_batch_wand(batch, k=10).collect()}
    exp = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
           for r in want.query_batch(batch, k=10).collect()}
    assert got == exp

    # a second fold absorbs the previous fold + the new delta -> still 2
    delta = mk([(r["url"] + "?v2", r["text"]) for r in rows[:40]])
    merge_append(spark, eng.store.root, delta, mode="segment")
    compact_tail(spark, eng.store.root)
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["n_segments"] == 2


def test_tiered_compact_preserves_pending_tombstones(spark, corpus, tmp_path):
    """compact_tail must NOT consume tombstones (the base segment keeps
    its copies); the next full merge/compaction still applies them."""
    from super_rag_spark.index.merge import compact_tail

    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "tp")).build(mk(rows[:150]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[150:200]), mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    eng.delete_urls([rows[3]["url"]])
    compact_tail(spark, eng.store.root)
    eng = BM25Engine(spark, eng.store.root)
    assert eng.store.tombstones(spark) is not None  # still pending
    # queries mask the tombstone exactly like before the fold
    kept = [r for i, r in enumerate(rows[:200]) if i != 3]
    want = BM25Engine(spark, str(tmp_path / "tpw")).build(mk(kept), **CFG)
    got = {d for d, _ in eng.topk(QUERIES[0], 10)}
    assert got == {d for d, _ in want.topk(QUERIES[0], 10)}


def test_merge_after_crashed_tail_fold_starts_clean(spark, corpus, tmp_path):
    """Same interleaving guard for the TIERED fold: a merge landing on
    the epoch of a crashed compact_tail wipes its partial output."""
    from super_rag_spark.index.merge import compact_tail

    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "mt")).build(mk(rows[:150]), **CFG)
    merge_append(spark, eng.store.root, mk(rows[150:200]), mode="segment")
    with pytest.raises(SimulatedMergeFailure):
        compact_tail(spark, eng.store.root, fail_after_bucket=1)

    merge_append(spark, eng.store.root, mk(rows[200:260]), mode="segment")
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["epoch"] == 2
    assert not eng.store.committed_buckets("compact_tail", 2)  # wiped

    want = BM25Engine(spark, str(tmp_path / "mtw")).build(mk(rows[:260]), **CFG)
    for q in QUERIES[:2]:
        assert _r9(eng.topk(q, 10)) == _r9(want.topk(q, 10))


def test_compaction_plan_auto(spark, corpus, tmp_path):
    """r3: size-ratio policy — small tail -> tiered; a tail that rivals
    the base -> full; under budget -> none."""
    from super_rag_spark.index.merge import compaction_plan, maybe_compact

    rows, mk = corpus
    eng = BM25Engine(spark, str(tmp_path / "cp")).build(mk(rows[:200]), **CFG)
    assert compaction_plan(spark, eng.store.root, max_segments=1) == "none"

    merge_append(spark, eng.store.root, mk(rows[200:210]), mode="segment")
    assert compaction_plan(spark, eng.store.root, max_segments=1) == "tiered"
    # a delta comparable to the base flips the decision to full
    merge_append(spark, eng.store.root, mk(rows[210:300]), mode="segment")
    big = mk([(r["url"] + "?x", r["text"]) for r in rows[:150]])
    merge_append(spark, eng.store.root, big, mode="segment")
    assert compaction_plan(spark, eng.store.root, max_segments=1) == "full"

    assert maybe_compact(spark, eng.store.root, max_segments=1,
                         mode="auto") is True
    eng = BM25Engine(spark, eng.store.root)
    assert eng.manifest["n_segments"] == 1  # auto chose the full fold
    assert maybe_compact(spark, eng.store.root, max_segments=1,
                         mode="auto") is False
