"""Full query lifecycle: routing, metadata filters (P7), projection
(P8), summary index (F13 analog), chunk materialization."""

import pytest
from pyspark.sql import functions as F

from super_rag_spark.index.build import doc_id_expr


@pytest.fixture(scope="module")
def docs_meta(spark, webtext_sf0001_path):
    df = spark.read.parquet(webtext_sf0001_path)
    return df.select(doc_id_expr("url").alias("doc_id"), "lang").cache()


def test_search_metadata_filter_exact(built_index, docs_meta, queries100):
    q = queries100[0]["text"]
    unfiltered = {d: s for d, s in built_index.topk(q, 1000)}
    res = built_index.search(q, k=10, docs_meta=docs_meta,
                             where=F.col("lang") == "en").collect()
    assert res
    allowed = {r["doc_id"] for r in docs_meta.where(F.col("lang") == "en").collect()}
    for r in res:
        assert r["doc_id"] in allowed
        assert r["lang"] == "en"
        # global stats: filtered score == unfiltered score for same doc (P7)
        assert r["score"] == pytest.approx(unfiltered[r["doc_id"]], rel=1e-9)
    # the filtered top-k = the unfiltered ranking restricted to allowed docs
    want = [d for d, _ in sorted(unfiltered.items(),
                                 key=lambda it: (-round(it[1], 9), it[0]))
            if d in allowed][:10]
    assert [r["doc_id"] for r in sorted(res, key=lambda r: r["rank"])] == want


def test_search_exclude_fields(built_index, docs_meta, queries100):
    q = queries100[1]["text"]
    res = built_index.search(q, k=3, docs_meta=docs_meta,
                             exclude_fields=["lang", "url"])
    assert set(res.columns) == {"rank", "doc_id", "score"}


def test_distributed_filter_matches_driver(built_index, docs_meta, queries100):
    q = queries100[2]
    cand = docs_meta.where(F.col("lang") == "en")
    batch = built_index.query_batch([q], k=10, candidates=cand).collect()
    drv = built_index.search(q["text"], k=10, docs_meta=docs_meta,
                             where=F.col("lang") == "en").collect()
    got_b = [(r["doc_id"], round(r["score"], 9)) for r in
             sorted(batch, key=lambda r: r["rank"])]
    got_d = [(r["doc_id"], round(r["score"], 9)) for r in
             sorted(drv, key=lambda r: r["rank"])]
    assert got_b == got_d


def test_search_distributed_path_matches_driver(built_index, docs_meta, queries100):
    """driver_filter_max=0 forces the semi-join plan, and a zero driver
    df budget sends the selective filter's candidates to the
    distributed WAND plan; ranking must be identical to the driver fast
    path (same contribution exprs)."""
    q = queries100[3]["text"]
    drv = built_index.search(q, k=10, docs_meta=docs_meta,
                             where=F.col("lang") == "en").collect()
    dist = built_index.search(q, k=10, docs_meta=docs_meta,
                              where=F.col("lang") == "en",
                              driver_filter_max=0).collect()
    old = built_index.driver_df_budget
    try:
        built_index.driver_df_budget = 0
        built_index._cache.clear()  # cached terms cost nothing
        n0 = built_index.driver_fallbacks
        budget = built_index.search(q, k=10, docs_meta=docs_meta,
                                    where=F.col("lang") == "en").collect()
        assert built_index.driver_fallbacks == n0 + 1
    finally:
        built_index.driver_df_budget = old
    key = lambda rows: [(r["doc_id"], round(r["score"], 9))
                        for r in sorted(rows, key=lambda r: r["rank"])]
    assert key(dist) == key(drv)
    assert key(budget) == key(drv)
    assert len(drv) > 0


def test_dict_filter_matches_column_filter(built_index, docs_meta, queries100):
    """Qdrant-style dict filter (reference models/query.py:7-21) compiles
    to the same plan as a hand-written Column predicate."""
    q = queries100[0]["text"]
    a = built_index.search(q, k=10, docs_meta=docs_meta,
                           where=F.col("lang") == "en").collect()
    b = built_index.search(
        q, k=10, docs_meta=docs_meta,
        where={"must": [{"key": "lang", "match": {"value": "en"}}]}).collect()
    key = lambda rows: [(r["doc_id"], round(r["score"], 9))
                        for r in sorted(rows, key=lambda r: r["rank"])]
    assert key(a) == key(b)


def test_filter_dsl_shapes(spark):
    from super_rag_spark.filters import to_column

    df = spark.createDataFrame(
        [(1, "en", 5, None), (2, "de", 15, "x"), (3, "en", 25, "y")],
        "doc_id long, lang string, n int, tag string")
    got = {r["doc_id"] for r in df.where(to_column(
        {"must": [{"key": "lang", "match": {"value": "en"}}],
         "must_not": [{"key": "n", "range": {"gte": 20}}]})).collect()}
    assert got == {1}
    got = {r["doc_id"] for r in df.where(to_column(
        {"should": [{"key": "lang", "match": {"any": ["de"]}},
                    {"key": "tag", "is_null": True}]})).collect()}
    assert got == {1, 2}
    got = {r["doc_id"] for r in df.where(to_column(
        {"must": [{"key": "n", "range": {"gt": 4, "lt": 16}}]})).collect()}
    assert got == {1, 2}


def test_summary_index_routing(spark, webtext_sf0001_path, tmp_path,
                               monkeypatch):
    from super_rag_spark import codec
    from super_rag_spark.query.engine import BM25Engine
    from super_rag_spark.summary import build_summary_index

    idx = str(tmp_path / "main")
    docs = spark.read.parquet(webtext_sf0001_path).select("url", "text").limit(300)
    eng = BM25Engine(spark, idx).build(docs, n_buckets=8)
    build_summary_index(spark, docs, idx, n_buckets=8)

    q = "semudo muro"
    main_hits = eng.topk(q, 10)
    sum_hits = eng.topk("summarize " + q, 10)
    assert sum_hits  # routed to the summary index and found docs
    # summary corpus has different stats -> scores must differ from main
    assert sum_hits != main_hits
    # the summary engine is kept, so a repeat is served from its cache
    decodes = []
    decode = codec.decode_blocks_batch
    monkeypatch.setattr(codec, "decode_blocks_batch",
                        lambda blocks: decodes.append(1) or decode(blocks))
    assert eng.topk("summarize " + q, 10) == sum_hits
    assert not decodes

    # without a summary index the keyword is stripped and main serves it
    eng2 = BM25Engine(spark, str(tmp_path / "nosum")).build(docs, n_buckets=8)
    assert eng2.topk("summarize " + q, 10) == eng2.topk(q, 10)


def test_chunk_materialization_join(spark, built_index, webtext_sf0001_path, queries100):
    """J-join: top-k doc ids -> chunk rows (SURVEY.md §2.3)."""
    from super_rag_spark.segmentation import segment

    chunks = segment(spark.read.parquet(webtext_sf0001_path).limit(200))
    q = queries100[0]
    topk = built_index.query_batch([q], k=5)
    joined = topk.join(chunks, "doc_id").select(
        "rank", "doc_id", "chunk_index", "content")
    rows = joined.collect()
    if rows:  # only docs within the 200-doc chunk slice materialize
        assert all(r["content"] for r in rows)


def test_filter_unknown_range_op_raises(spark):
    import pytest

    from super_rag_spark.filters import to_column

    # a silently-dropped op would WIDEN the filter (ADVICE r2)
    with pytest.raises(ValueError, match="unsupported range operator"):
        to_column({"must": [{"key": "n", "range": {"gte": 1, "eq": 2}}]})


def test_filtered_wand_matches_exhaustive(built_index, docs_meta, queries100):
    """r3: candidates= through the distributed WAND plan (per-salt-range
    candidate cogroup) is rank-identical to the exhaustive semi-join
    plan AND to the driver path — block skipping survives broad
    filters."""
    cand = docs_meta.where(F.col("lang") == "en").select("doc_id")
    batch = [dict(q) for q in queries100[:8]]
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rows)
    exhaustive = built_index.query_batch(batch, k=10, candidates=cand).collect()
    wand = built_index.query_batch_wand(batch, k=10, candidates=cand).collect()
    assert key(wand) == key(exhaustive)
    assert len(exhaustive) > 0

    # search(method="wand") rides the same plan
    q = queries100[0]["text"]
    a = built_index.search(q, k=10, docs_meta=docs_meta, method="wand",
                           where=F.col("lang") == "en",
                           driver_filter_max=0).collect()
    b = built_index.search(q, k=10, docs_meta=docs_meta,
                           where=F.col("lang") == "en",
                           driver_filter_max=0).collect()
    key2 = lambda rows: [(r["doc_id"], round(r["score"], 9))
                         for r in sorted(rows, key=lambda r: r["rank"])]
    assert key2(a) == key2(b)


def test_snippets_pick_densest_window(spark):
    """r4: the snippet is the width-token window with the MOST query
    term occurrences, earliest on ties; hits without any match drop."""
    from super_rag_spark.query.snippet import snippets

    docs = spark.createDataFrame(
        [(1, "aa x x x x x x x x x x x x x x x x x x x x x "
             "aa y aa aa z tail tail"),      # dense cluster late
         (2, "plain filler aa filler end"),  # single match
         (3, "no match here at all")],
        "doc_id long, text string")
    hits = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "query_id int, doc_id long")
    out = {r["doc_id"]: r for r in
           snippets(docs, hits, [(0, "aa")], width=5).collect()}
    # doc 1: the window at the late cluster holds 3 occurrences
    assert out[1]["n_matches"] == 3
    assert out[1]["snippet"].split()[0] == "aa"
    assert out[1]["snippet"].split().count("aa") == 3
    # doc 2: single match, window anchored at it
    assert out[2]["n_matches"] == 1
    assert out[2]["snippet"].startswith("aa filler end")
    # doc 3: no query term -> omitted
    assert 3 not in out


def test_highlight_fragments_and_marking(spark):
    """r5: n_fragments>1 returns greedy NON-OVERLAPPING windows
    (fragment 2 excludes anchors within width of fragment 1);
    mark=True <em>-wraps every query-term occurrence."""
    from super_rag_spark.query.snippet import snippets

    docs = spark.createDataFrame(
        [(1, "aa bb x x x x x x x x x x x x x x x x x x "
             "aa aa y z tail"),   # two separated clusters
         (2, "aa only once here")],
        "doc_id long, text string")
    hits = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id int, doc_id long")
    out = snippets(docs, hits, [(0, "aa bb")], width=5,
                   n_fragments=2, mark=True).collect()
    d1 = sorted((r["fragment"], r["n_matches"], r["snippet"])
                for r in out if r["doc_id"] == 1)
    # fragment 1 = the early 'aa bb' window (2 matches, earliest tie);
    # fragment 2 = the late 'aa aa' cluster, non-overlapping
    assert d1[0][0] == 1 and d1[0][1] == 2
    assert d1[0][2].startswith("<em>aa</em> <em>bb</em>")
    assert d1[1][0] == 2 and d1[1][1] == 2
    assert d1[1][2].startswith("<em>aa</em> <em>aa</em>")
    # doc 2 has anchors for one window only -> no fragment 2 row
    d2 = [r for r in out if r["doc_id"] == 2]
    assert [r["fragment"] for r in d2] == [1]
    assert d2[0]["snippet"] == "<em>aa</em> only once here"

    # single-fragment shape unchanged (no fragment column)
    legacy = snippets(docs, hits, [(0, "aa bb")], width=5)
    assert "fragment" not in legacy.columns

    with pytest.raises(ValueError, match="n_fragments"):
        snippets(docs, hits, [(0, "aa")], n_fragments=0)


def test_search_attaches_snippets(spark, built_index, webtext_sf0001_path):
    """r4: search(snippet_docs=) returns an excerpt per hit containing
    at least one query term."""
    from super_rag_spark.index.build import extract

    docs = extract(spark.read.parquet(webtext_sf0001_path))
    out = built_index.search("semudo muro", k=5,
                             snippet_docs=docs).collect()
    assert out and all("snippet" in r.asDict() for r in out)
    for r in out:
        toks = set(r["snippet"].split())
        assert r["n_matches"] >= 1
        assert toks & {"semudo", "muro"}, r["snippet"]

    # r5: multi-fragment marked form — still one row per hit, the
    # fragments ' ... '-joined, query terms <em>-wrapped
    out2 = built_index.search("semudo muro", k=5, snippet_docs=docs,
                              snippet_fragments=2,
                              snippet_mark=True).collect()
    assert len(out2) == len(out)
    assert any(" ... " in r["snippet"] for r in out2)
    for r in out2:
        assert "<em>semudo</em>" in r["snippet"] \
            or "<em>muro</em>" in r["snippet"], r["snippet"]
