"""Boosted retrieval + minimum_should_match (r5): per-term boosts
multiply BM25 contributions (Lucene BooleanQuery boost analog), msm
drops docs matching fewer distinct query terms before ranking. The
driver fast path (wand.vectorized_topk_arrays) and the distributed plan
(scoring.score_query_batch boosts/msm) must rank identically."""

import pytest

from super_rag_spark.analysis import parse_weighted_query


def test_parse_weighted_query():
    assert parse_weighted_query("stream^2 batch window^0.5") == {
        "stream": 2.0, "batch": 1.0, "window": 0.5}
    # clause boost covers every analyzed token; last duplicate wins
    assert parse_weighted_query("foo-bar^2") == {"foo": 2.0, "bar": 2.0}
    assert parse_weighted_query("a^2 a^3") == {"a": 3.0}
    # a caret with no numeric weight is analyzer noise, not a boost
    assert parse_weighted_query("a^ b") == {"a": 1.0, "b": 1.0}
    assert parse_weighted_query("") == {}


def test_unweighted_equals_vectorized(built_index):
    """weights absent + msm=1 must reproduce topk() exactly."""
    for q in ("semudo muro", "fuboname", "semudo vubo muro"):
        assert built_index.weighted_topk(q, k=10) == built_index.topk(q, k=10)


def test_boost_reorders_and_scales(built_index):
    base = built_index.topk("semudo muro", k=5)
    boosted = built_index.weighted_topk("semudo^3 muro^0.1", k=5)
    assert boosted  # same match set, different ordering criterion
    base_docs = {d for d, _ in built_index.topk("semudo muro", k=1000)}
    assert all(d in base_docs for d, _ in boosted)
    # boost 0 zeroes a term's contribution without unmatching it:
    # semudo-bearing docs keep exactly their single-term BM25 scores,
    # so the top-5 equals plain topk("semudo") (muro-only docs score
    # 0.0 and sink below every positive score)
    only_semudo = built_index.weighted_topk("semudo^1 muro^0", k=5)
    assert only_semudo == built_index.topk("semudo", k=5)


def test_msm_drops_partial_matches(built_index, webtext_rows):
    """msm=2 keeps exactly the docs containing BOTH terms."""
    from super_rag_spark.analysis import doc_id_for_url, tokenize

    q = "semudo muro"
    both = set()
    for r in webtext_rows:
        toks = set(tokenize(r["text"]))
        if {"semudo", "muro"} <= toks:
            both.add(doc_id_for_url(r["url"]))
    hits = built_index.weighted_topk(q, k=10_000, msm=2)
    assert {d for d, _ in hits} == both
    # scores of surviving docs equal the unweighted disjunction's
    full = dict(built_index.topk(q, k=10_000))
    assert all(abs(full[d] - s) < 1e-12 for d, s in hits)
    # msm above the term count can never match
    assert built_index.weighted_topk(q, k=10, msm=3) == []


def test_driver_equals_distributed(built_index):
    from super_rag_spark.query.scoring import score_query_batch

    weights = {"semudo": 2.0, "muro": 0.5, "vubo": 1.0}
    driver = built_index.weighted_topk(
        "x", boosts=weights, k=10, msm=2)
    res = score_query_batch(
        built_index.spark, built_index.store,
        [{"query_id": 0, "text": "semudo muro vubo",
          "boosts": weights, "msm": 2}], k=10)
    dist = [(int(r["doc_id"]), float(r["score"]))
            for r in res.orderBy("rank").collect()]
    assert [d for d, _ in driver] == [d for d, _ in dist]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(driver, dist))


def test_wand_batch_rejects_boosts(built_index):
    from super_rag_spark.query.scoring import score_query_batch_wand

    with pytest.raises(ValueError, match="boosts/msm"):
        score_query_batch_wand(
            built_index.spark, built_index.store,
            [{"query_id": 0, "text": "semudo", "boosts": {"semudo": 2.0}}])
    with pytest.raises(ValueError, match="boosts/msm"):
        score_query_batch_wand(
            built_index.spark, built_index.store,
            [{"query_id": 0, "text": "semudo muro", "msm": 2}])


def test_weighted_budget_fallback(built_index):
    """Over-budget weighted queries run the distributed plan with
    identical ranking (boosts + msm survive the fallback)."""
    old = built_index.driver_df_budget
    try:
        built_index.driver_df_budget = 0
        # cached terms are free on the driver (by design the budget
        # only counts UNCACHED df) — clear to force the fallback
        built_index._cache.clear()
        fb0 = built_index.driver_fallbacks
        low = built_index.weighted_topk("semudo^2 muro^0.5", k=10, msm=2)
        assert built_index.driver_fallbacks == fb0 + 1
    finally:
        built_index.driver_df_budget = old
    # both paths take idf from analysis.idf and sum in term order, so
    # the floats agree exactly
    high = built_index.weighted_topk("semudo^2 muro^0.5", k=10, msm=2)
    assert low == high


def test_weighted_validation(built_index):
    with pytest.raises(ValueError, match="msm"):
        built_index.weighted_topk("semudo", msm=0)
    assert built_index.weighted_topk("", k=10) == []


# ---------------------------------------------------------- more_like_this

def test_mlt_excludes_source_and_selects_by_tfidf(spark, built_index,
                                                  webtext_rows):
    from collections import Counter

    from super_rag_spark.analysis import doc_id_for_url, idf, tokenize

    src = webtext_rows[3]
    docs = spark.createDataFrame(
        [(r["url"], r["text"]) for r in webtext_rows],
        "url string, text string")
    hits = built_index.more_like_this(docs, url=src["url"], k=10)
    assert hits
    src_id = doc_id_for_url(src["url"])
    assert src_id not in {d for d, _ in hits}
    # selection rule is transparent: top-10 terms by (tf*idf DESC, term)
    tf = Counter(tokenize(src["text"]))
    dfs = built_index._term_dfs(built_index._snapshot(), sorted(tf))
    n = int(built_index.manifest["n_docs"])
    sel = [t for t, _ in sorted(
        ((t, tf[t] * idf(n, dfs[t])) for t in tf if dfs.get(t, 0) > 0),
        key=lambda x: (-x[1], x[0]))[:10]]
    expect = [(d, s) for d, s in built_index.topk(" ".join(sel), k=11)
              if d != src_id][:10]
    assert hits == expect


def test_mlt_text_form_and_validation(built_index):
    # 3 in-vocab terms -> all selected; no url -> no exclusion: the
    # result IS the plain OR-bag top-k
    hits = built_index.more_like_this(text="semudo muro semudo vubo", k=5)
    assert hits == built_index.topk("semudo muro vubo", k=5)
    with pytest.raises(ValueError, match="more_like_this needs"):
        built_index.more_like_this()
    with pytest.raises(ValueError, match="not found"):
        built_index.more_like_this(
            built_index.store.doc_stats(built_index.spark)
            .withColumn("text", __import__("pyspark").sql.functions.lit("x")),
            url="https://nope.example/")
    assert built_index.more_like_this(text="") == []
    # all-OOV source text selects nothing
    assert built_index.more_like_this(text="zzzqqqxxx") == []


# ------------------------------------------------------------ search_after

def test_search_after_stitches_pages(built_index):
    """Three cursor pages concatenate to exactly the global top-30."""
    q = "semudo muro vubo"
    full = built_index.topk(q, k=30)
    pages, cursor = [], None
    for _ in range(3):
        page = built_index.topk_after(q, k=10, after=cursor)
        if not page:
            break
        pages += page
        cursor = page[-1]
    assert pages == full


def test_search_after_none_is_page_one(built_index):
    q = "semudo muro"
    assert built_index.topk_after(q, k=10) == built_index.topk(q, k=10)


def test_search_after_distributed_fallback(built_index):
    q = "semudo muro"
    cursor = built_index.topk(q, k=10)[-1]
    want = built_index.topk_after(q, k=10, after=cursor)
    old = built_index.driver_df_budget
    try:
        built_index.driver_df_budget = 0
        built_index._cache.clear()
        got = built_index.topk_after(q, k=10, after=cursor)
    finally:
        built_index.driver_df_budget = old
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, want))


def test_search_after_past_the_end(built_index):
    q = "fuboname"
    n = len(built_index.topk(q, k=100_000))
    deep = built_index.topk(q, k=n)[-1]
    assert built_index.topk_after(q, k=10, after=deep) == []
