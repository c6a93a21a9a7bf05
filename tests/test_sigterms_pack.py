"""r5: significant-terms aggregation + GPT-style sequence packing."""

import hashlib

import pytest
from pyspark.sql import functions as F

from super_rag_spark import textops
from super_rag_spark.analysis import tokenize


def _corpus(spark):
    rows = []
    # 8 docs about "common" all carry the marker term "companion";
    # 16 background docs carry "plain" instead
    for i in range(8):
        rows.append((f"https://a.example/m{i}",
                     f"common companion topic{i % 2} word{i}"))
    for i in range(16):
        rows.append((f"https://a.example/b{i}",
                     f"plain topic{i % 2} filler{i} word{i % 4}"))
    return spark.createDataFrame(rows, "url string, text string")


@pytest.fixture(scope="module")
def st_engine(spark, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    idx = str(tmp_path_factory.mktemp("stidx") / "idx")
    docs = _corpus(spark)
    eng = BM25Engine(spark, idx).build(docs, text_is_extracted=True)
    return eng, docs


def test_significant_terms_finds_marker(spark, st_engine):
    eng, docs = st_engine
    res = eng.significant_terms("common", docs, top=5,
                                sample_size=100, min_doc_count=2).collect()
    assert res, "match set non-empty"
    # the query term itself and its perfect co-occurrer dominate
    top2 = {r["term"] for r in res[:2]}
    assert top2 == {"common", "companion"}
    # JLH cross-check vs a brute-force python pass: sample == the full
    # match set (docs containing 'common'), fg = doc counts there
    corpus = [(r["url"], tokenize(r["text"])) for r in docs.collect()]
    match = [set(t) for _, t in corpus if "common" in t]
    n_docs, sample_n = len(corpus), len(match)
    for r in res:
        fg = sum(1 for s in match if r["term"] in s)
        df = sum(1 for _, t in corpus if r["term"] in set(t))
        assert (r["fg_count"], r["sample_n"], r["df"]) == (fg, sample_n, df)
        fg_pct, bg_pct = fg / sample_n, df / n_docs
        assert r["score"] == pytest.approx(
            (fg_pct - bg_pct) * (fg_pct / bg_pct), rel=1e-9)


def test_significant_terms_min_doc_count(st_engine):
    eng, docs = st_engine
    res = eng.significant_terms("common", docs, top=50,
                                sample_size=100, min_doc_count=3).collect()
    assert all(r["fg_count"] >= 3 for r in res)
    # the per-doc-unique wordN/topicN terms are filtered at 9
    res9 = eng.significant_terms("common", docs, top=50,
                                 sample_size=100, min_doc_count=9).collect()
    assert {r["term"] for r in res9} <= {"common", "companion"}


def test_significant_terms_validation(st_engine):
    eng, docs = st_engine
    with pytest.raises(ValueError):
        eng.significant_terms("common", docs, top=0)


# ------------------------------------------------------------- packing

def _pack_corpus(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(1 + i % 7)))
            for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_sequences_contiguous_per_shard(spark):
    out = textops.pack_sequences(_pack_corpus(spark), 10, n_shards=4).collect()
    assert len(out) == 60
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r)
    assert set(by_shard) <= set(range(4))
    for rs in by_shard.values():
        rs.sort(key=lambda r: r["tok_start"])
        expect = 0
        for r in rs:
            assert r["tok_start"] == expect, "token stream has a gap"
            expect += r["n_tokens"]
            assert r["seq_first"] == r["tok_start"] // 10
            assert r["seq_last"] == (r["tok_start"] + r["n_tokens"] - 1) // 10


def test_pack_sequences_order_is_md5(spark):
    """The within-shard order is (md5('pack:'+id), id) — reproducible
    from the doc_id alone."""
    out = textops.pack_sequences(_pack_corpus(spark), 10, n_shards=2).collect()
    for sid in {r["shard_id"] for r in out}:
        rs = [r for r in out if r["shard_id"] == sid]
        by_start = [r["doc_id"] for r in sorted(rs, key=lambda r: r["tok_start"])]
        by_hash = [r["doc_id"] for r in sorted(
            rs, key=lambda r: (hashlib.md5(
                f"pack:{r['doc_id']}".encode()).hexdigest(), r["doc_id"]))]
        assert by_start == by_hash


def test_pack_sequences_partition_independent(spark):
    df = _pack_corpus(spark)
    a = sorted(map(tuple, textops.pack_sequences(df, 16, n_shards=4).collect()))
    b = sorted(map(tuple, textops.pack_sequences(
        df.repartition(7), 16, n_shards=4).collect()))
    assert a == b


def test_pack_sequences_salt_draws_new_layout(spark):
    df = _pack_corpus(spark)
    a = sorted(map(tuple, textops.pack_sequences(df, 16, n_shards=4).collect()))
    b = sorted(map(tuple, textops.pack_sequences(
        df, 16, n_shards=4, salt="other").collect()))
    assert a != b


def test_pack_sequences_validation(spark):
    with pytest.raises(ValueError):
        textops.pack_sequences(_pack_corpus(spark), 0)
    # empty docs are dropped from the stream
    df = _pack_corpus(spark).withColumn(
        "text", F.when(F.col("doc_id") < 5, F.lit("")).otherwise(F.col("text")))
    out = textops.pack_sequences(df, 10, n_shards=2).collect()
    assert len(out) == 55 and all(r["n_tokens"] > 0 for r in out)


# ------------------------------------------------------------- synonyms

def _blend_brute(corpus_tokens, groups, k1=1.2, b=0.75):
    """Pure-python SynonymQuery oracle: groups = {gkey: [terms]};
    blended tf sums, group idf on max member df."""
    import math

    n = len(corpus_tokens)
    avgdl = sum(len(t) for t in corpus_tokens.values()) / n
    dfs = {}
    for toks in corpus_tokens.values():
        for t in set(toks):
            dfs[t] = dfs.get(t, 0) + 1
    scores = {}
    for gkey in sorted(groups):
        members = [t for t in groups[gkey] if t in dfs]
        if not members:
            continue
        df_g = max(dfs[t] for t in members)
        idf = math.log((n - df_g + 0.5) / (df_g + 0.5) + 1.0)
        for doc, toks in corpus_tokens.items():
            tfb = sum(toks.count(t) for t in members)
            if tfb == 0:
                continue
            dl = len(toks)
            c = idf * (tfb * (k1 + 1.0)) / (
                tfb + k1 * ((1.0 - b) + b * dl / avgdl))
            scores[doc] = scores.get(doc, 0.0) + c
    return sorted(scores.items(), key=lambda x: (-round(x[1], 9), x[0]))


def test_synonym_topk_blended_vs_brute(spark, st_engine):
    from super_rag_spark.analysis import doc_id_for_url

    eng, docs = st_engine
    syn = {"common": ["plain", "nosuchterm"]}
    got = eng.synonym_topk("common companion", syn, k=50)
    corpus = {doc_id_for_url(r["url"]): tokenize(r["text"])
              for r in docs.collect()}
    want = _blend_brute(corpus, {"common": ["common", "plain", "nosuchterm"],
                                 "companion": ["companion"]})
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_synonym_topk_empty_map_equals_topk(st_engine):
    eng, _ = st_engine
    assert eng.synonym_topk("common companion", {}, k=10) == \
        eng.topk("common companion", k=10, method="vectorized")


def test_synonym_topk_distributed_equals_driver(st_engine):
    eng, _ = st_engine
    syn = {"common": ["plain"]}
    driver = eng.synonym_topk("common companion", syn, k=10)
    n0 = eng.driver_fallbacks
    old = eng.driver_df_budget
    eng.driver_df_budget = 0
    eng._cache.clear()
    try:
        dist = eng.synonym_topk("common companion", syn, k=10)
    finally:
        eng.driver_df_budget = old
    assert eng.driver_fallbacks > n0
    assert [d for d, _ in dist] == [d for d, _ in driver]
    for (dd, ds), (vd, vs) in zip(dist, driver):
        assert ds == pytest.approx(vs, rel=1e-9)


def test_synonym_topk_all_oov(st_engine):
    eng, _ = st_engine
    assert eng.synonym_topk("nosuchterm", {"nosuchterm": ["alsonot"]}) == []


def test_significant_terms_tokenize_above_sample_join(spark, st_engine):
    """The corpus tokenize (array_distinct chain) must sit ABOVE the
    sample semi-join — fg counting touches only sampled docs, never a
    full-corpus tokenize (same plan rule as phrase/snippets; the
    plan_barrier keeps Catalyst from substituting the chain into a
    pushed-down filter)."""
    eng, docs = st_engine
    df = eng.significant_terms("common", docs, top=5, sample_size=3)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.split("\n")
    hits = [i for i, ln in enumerate(lines) if "array_distinct" in ln]
    assert hits, plan
    for ad in hits:
        rel = next((i for i, ln in enumerate(lines)
                    if i > ad and ("Relation" in ln or "LogicalRDD" in ln)),
                   len(lines))
        assert any("Join" in ln for ln in lines[ad + 1:rel]), (
            "tokenize chain evaluated below the sample join:\n" + plan)


# ------------------------------------------------------- span removal

def test_remove_dup_spans_planted(spark):
    """A 4-token span shared by three docs survives only in the
    min-doc_id canonical; other docs lose exactly the covered
    tokens."""
    span = "aa bb cc dd"
    rows = [
        (1, f"x1 x2 {span} x3 x4"),
        (2, f"y1 {span} y2 y3"),
        (3, f"{span} z1 z2"),
        (4, "u1 u2 u3 u4 u5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textops.remove_dup_spans(df, n=4).collect()}
    assert out[1]["text"] == f"x1 x2 {span} x3 x4"  # canonical keeps
    assert out[1]["n_removed"] == 0
    assert out[2]["text"] == "y1 y2 y3" and out[2]["n_removed"] == 4
    assert out[3]["text"] == "z1 z2" and out[3]["n_removed"] == 4
    assert out[4]["text"] == "u1 u2 u3 u4 u5"
    assert out[4]["n_removed"] == 0 and out[4]["n_tokens_before"] == 5


def test_remove_dup_spans_full_doc_emptied(spark):
    rows = [(1, "aa bb cc dd ee"), (2, "aa bb cc dd ee"), (3, "qq ww")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textops.remove_dup_spans(df, n=3).collect()}
    assert out[1]["text"] == "aa bb cc dd ee"
    assert out[2]["text"] == "" and out[2]["n_removed"] == 5
    assert out[3]["text"] == "qq ww"


def test_remove_dup_spans_overlapping_windows(spark):
    """Overlapping duplicate windows mark the UNION of their token
    ranges, not double-remove."""
    shared = "aa bb cc dd ee"  # two overlapping 4-windows
    rows = [(1, f"{shared} p1"), (2, f"{shared} q1 q2")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textops.remove_dup_spans(df, n=4).collect()}
    assert out[2]["text"] == "q1 q2" and out[2]["n_removed"] == 5


def test_remove_dup_spans_validation(spark):
    with pytest.raises(ValueError):
        textops.remove_dup_spans(
            spark.createDataFrame([(1, "a")], "doc_id long, text string"),
            n=0)


# ------------------------------------------------------------------ BPE

def _ref_bpe_train(word_counts, n_merges):
    """Independent textbook BPE (Sennrich et al.) for cross-checking."""
    vocab = {tuple(w) + ("_",): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for word, c in vocab.items():
            for i in range(len(word) - 1):
                pairs[word[i], word[i + 1]] = \
                    pairs.get((word[i], word[i + 1]), 0) + c
        if not pairs:
            break
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        if pairs[best] < 2:
            break
        merges.append(best)
        nv = {}
        for word, c in vocab.items():
            out, i = [], 0
            while i < len(word):
                if i + 1 < len(word) and (word[i], word[i + 1]) == best:
                    out.append(word[i] + word[i + 1]); i += 2
                else:
                    out.append(word[i]); i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def _ref_bpe_encode(token, merges):
    syms = list(token) + ["_"]
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b); i += 2
            else:
                out.append(syms[i]); i += 1
        syms = out
    return syms


def test_bpe_train_matches_reference(spark):
    text = ("low low low lower lower newest newest newest newest widest")
    df = spark.createDataFrame([(1, text), (2, "low newest")],
                               "doc_id long, text string")
    merges = textops.bpe_train(df, n_merges=6)
    wc = {}
    for t in (text + " low newest").split():
        wc[t] = wc.get(t, 0) + 1
    assert merges == _ref_bpe_train(wc, 6)
    # (w,e) tops: lower x2 + newest x5 (hand-counted) beat (e,s) at 6
    assert merges[0] == ("w", "e")


def test_bpe_train_partition_independent(spark):
    rows = [(i, f"alpha beta gamma word{i % 5}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = textops.bpe_train(df, n_merges=10)
    b = textops.bpe_train(df.repartition(7), n_merges=10)
    assert a == b and len(a) == 10


def test_bpe_encode_matches_reference(spark):
    rows = [(1, "lowest newest low"), (2, "wider widest"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [("e", "s"), ("es", "t"), ("est", "_"), ("l", "o"), ("lo", "w")]
    got = {r["doc_id"]: r for r in textops.bpe_encode(df, merges).collect()}
    import hashlib
    for doc_id, text in rows:
        enc = " ".join(" ".join(_ref_bpe_encode(t, merges))
                       for t in text.split())
        n_sym = 0 if not text else len(enc.split(" "))
        assert got[doc_id]["n_bpe_tokens"] == n_sym, doc_id
        assert got[doc_id]["bpe_md5"] == \
            hashlib.md5(enc.encode()).hexdigest(), doc_id
    assert got[3]["n_tokens"] == 0 and got[3]["n_bpe_tokens"] == 0


def test_bpe_validation(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        textops.bpe_train(df, n_merges=0)
    with pytest.raises(ValueError):
        textops.bpe_encode(df, [("a", "b")] * 201)


def test_bpe_encode_ids_agrees_with_catalyst(spark):
    rows = [(1, "lowest newest low"), (2, "wider widest"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [("e", "s"), ("es", "t"), ("est", "_"), ("l", "o"), ("lo", "w")]
    ids = {r["doc_id"]: r for r in
           textops.bpe_encode_ids(df, merges).collect()}
    cat = {r["doc_id"]: r for r in textops.bpe_encode(df, merges).collect()}
    inv = {i: s for s, i in textops.bpe_vocab(merges).items()}
    import hashlib
    for d in (1, 2, 3):
        assert ids[d]["n_bpe_tokens"] == cat[d]["n_bpe_tokens"]
        recon = " ".join(inv[i] for i in ids[d]["ids"])
        assert hashlib.md5(recon.encode()).hexdigest() == cat[d]["bpe_md5"]
    assert ids[3]["ids"] == []


def test_bpe_ids_roundtrip_and_pack_on_counts(spark):
    """ids decode back to the original tokens; pack_sequences lays out
    the stream on the BPE counts when count_col is given."""
    rows = [(i, f"alpha beta word{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = textops.bpe_train(df, n_merges=8)
    enc = textops.bpe_encode_ids(df, merges)
    inv = {i: s for s, i in textops.bpe_vocab(merges).items()}
    for r in enc.collect():
        text = "".join(inv[i] for i in r["ids"]).replace(
            textops.BPE_EOW, " ").strip()
        assert text == [t for d, t in rows if d == r["doc_id"]][0]
    packed = textops.pack_sequences(enc, 16, n_shards=2,
                                    count_col="n_bpe_tokens").collect()
    n = {r["doc_id"]: r["n_bpe_tokens"] for r in enc.collect()}
    by_shard = {}
    for r in packed:
        assert r["n_tokens"] == n[r["doc_id"]]
        by_shard.setdefault(r["shard_id"], []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r["tok_start"])
        expect = 0
        for r in rs:
            assert r["tok_start"] == expect
            expect += r["n_tokens"]
