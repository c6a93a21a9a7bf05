"""Boolean retrieval semantics (query/boolean.py + engine path)."""

import pytest

from super_rag_spark.query.boolean import (boolean_sql_cand, boolean_topk,
                                           parse_boolean)


def test_parse_boolean():
    assert parse_boolean("a AND b NOT c") == [
        ("AND", "a"), ("AND", "b"), ("NOT", "c")]
    assert parse_boolean("a b") == [("AND", "a"), ("AND", "b")]
    assert parse_boolean("a OR B!") == [("AND", "a"), ("OR", "b")]
    for bad in ["NOT a", "a AND", "a AND OR b", "", "a twoword-ok AND"]:
        with pytest.raises(ValueError):
            parse_boolean(bad)


def test_boolean_sql_cand_parenthesizes():
    sql = boolean_sql_cand(parse_boolean("a OR b NOT c"))
    # left-assoc: ((a UNION b) EXCEPT c) — parens must force the order
    assert sql.startswith("((SELECT")
    assert ") EXCEPT (" in sql and ") UNION (" in sql.split("EXCEPT")[0] + "EXCEPT"


def _mk_docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta delta"),
            (3, "alpha gamma"),
            (4, "beta gamma"),
            (5, "delta only here"),
        ],
        "doc_id long, text string",
    )


def test_boolean_set_semantics(spark):
    docs = _mk_docs(spark)

    def ids(expr):
        return sorted(r["doc_id"] for r in
                      boolean_topk(docs, [(0, expr)], k=10).collect())

    assert ids("alpha AND beta") == [1, 2]
    assert ids("alpha AND beta NOT delta") == [1]
    assert ids("alpha OR delta") == [1, 2, 3, 5]
    assert ids("alpha OR delta NOT beta") == [3, 5]
    assert ids("gamma NOT alpha NOT beta") == []


def test_engine_boolean_matches_dataframe_path(spark, tmp_path):
    from super_rag_spark.index.build import doc_id_expr
    from super_rag_spark.query.engine import BM25Engine

    rows = [(f"https://b.example/{i}",
             ["alpha beta gamma", "alpha beta delta", "alpha gamma",
              "beta gamma filler", "delta lonely doc"][i % 5] + f" pad{i}")
            for i in range(25)]
    docs = spark.createDataFrame(rows, "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "boolidx")).build(
        docs, text_is_extracted=True)
    with_ids = docs.withColumn("doc_id", doc_id_expr("url"))

    for expr in ["alpha AND beta", "alpha AND beta NOT delta",
                 "alpha OR delta NOT gamma"]:
        got = eng.boolean_topk(expr, k=30)
        exp = {r["doc_id"]: (r["rank"], r["score"]) for r in
               boolean_topk(with_ids.select("doc_id", "text"),
                            [(0, expr)], k=30).collect()}
        assert len(got) == len(exp), expr
        for rank, (doc_id, score) in enumerate(got, start=1):
            assert exp[doc_id][0] == rank, expr
            assert abs(exp[doc_id][1] - round(score, 6)) < 1e-6, expr
    # NOT-everything and unknown terms
    assert eng.boolean_topk("alpha NOT alpha") == []
    assert eng.boolean_topk("zzznope AND alpha") == []
    # alpha appears in 3 of every 5 doc templates -> 15 of 25 docs
    assert len(eng.boolean_topk("zzznope OR alpha", k=30)) == 15


def test_engine_boolean_random_expressions(spark, tmp_path):
    """Randomized expressions vs plain-Python set algebra over the same
    corpus: the engine's candidate SET must match exactly for every
    generated left-assoc chain (ranking correctness is covered above)."""
    import random

    from super_rag_spark.index.build import doc_id_expr
    from super_rag_spark.query.engine import BM25Engine

    vocab = ["red", "green", "blue", "cyan", "teal", "plum"]
    rng = random.Random(11)
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(2, 6))]
        rows.append((f"https://r.example/{i}", " ".join(words + [f"pad{i}"])))
    docs = spark.createDataFrame(rows, "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "randidx")).build(
        docs, text_is_extracted=True)

    ids = {r["url"]: r["doc_id"] for r in
           docs.withColumn("doc_id", doc_id_expr("url"))
               .select("url", "doc_id").collect()}
    has = {t: {ids[u] for u, txt in rows if t in txt.split()} for t in vocab}

    for _ in range(40):
        n_steps = rng.randint(1, 4)
        terms = [rng.choice(vocab) for _ in range(n_steps)]
        ops = ["AND"] + [rng.choice(["AND", "OR", "NOT"])
                         for _ in range(n_steps - 1)]
        expr = terms[0] + "".join(
            f" {op} {t}" for op, t in zip(ops[1:], terms[1:]))
        want = set(has[terms[0]])
        for op, t in zip(ops[1:], terms[1:]):
            if op == "AND":
                want &= has[t]
            elif op == "OR":
                want |= has[t]
            else:
                want -= has[t]
        got = {d for d, _ in eng.boolean_topk(expr, k=100)}
        assert got == want, expr


def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_distributed_boolean_matches_driver(spark, tmp_path):
    """r4: the index-backed DISTRIBUTED boolean plan (score_boolean_batch)
    must rank exactly like the driver set-algebra path — and its plan
    must read the index, never the corpus."""
    from super_rag_spark.query.engine import BM25Engine

    rows = [(f"https://b.example/{i}",
             ["alpha beta gamma", "alpha beta delta", "alpha gamma",
              "beta gamma filler", "delta lonely doc"][i % 5] + f" pad{i}")
            for i in range(25)]
    docs = spark.createDataFrame(rows, "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "dboolidx")).build(
        docs, text_is_extracted=True)

    queries = [(0, "alpha AND beta"), (1, "alpha AND beta NOT delta"),
               (2, "alpha OR delta NOT gamma"), (3, "gamma NOT gamma"),
               (4, "zzznope OR alpha")]
    dist = eng.boolean_batch(queries, k=30)
    got = {}
    for r in dist.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for qid, expr in queries:
        drv = [(i + 1, d, round(s, 9))
               for i, (d, s) in enumerate(eng.boolean_topk(expr, k=30))]
        assert sorted(got.get(qid, [])) == drv, expr


def test_distributed_boolean_plan_reads_only_index(spark, built_index,
                                                   webtext_sf0001_path):
    """The boolean plan over a parquet-backed corpus index must scan
    postings files only — no documents/corpus source anywhere in it."""
    dist = built_index.boolean_batch([(0, "the OR data NOT spark")], k=10)
    plan = _plan_of(dist)
    assert "postings" in plan
    assert ".fixtures" not in plan and "webtext" not in plan
    assert dist.count() > 0  # and it actually runs


def test_driver_df_budget_boolean_fallback(spark, tmp_path):
    """driver_df_budget=0 forces every driver query through the
    distributed plans; results must be rank-identical and the fallback
    counter must fire."""
    from super_rag_spark.query.engine import BM25Engine

    rows = [(f"https://c.example/{i}",
             ["alpha beta gamma", "alpha beta delta", "alpha gamma",
              "beta gamma filler", "delta lonely doc"][i % 5] + f" pad{i}")
            for i in range(25)]
    docs = spark.createDataFrame(rows, "url string, text string")
    idx = str(tmp_path / "budidx")
    eng = BM25Engine(spark, idx).build(docs, text_is_extracted=True)
    base_bool = eng.boolean_topk("alpha AND beta NOT delta", k=10)
    base_topk = eng.topk("alpha beta", k=10)

    eng2 = BM25Engine(spark, idx)  # fresh caches
    eng2.driver_df_budget = 0
    got_bool = eng2.boolean_topk("alpha AND beta NOT delta", k=10)
    got_topk = eng2.topk("alpha beta", k=10)
    assert eng2.driver_fallbacks == 2
    assert [d for d, _ in got_bool] == [d for d, _ in base_bool]
    assert [d for d, _ in got_topk] == [d for d, _ in base_topk]
    for (d1, s1), (d2, s2) in zip(got_bool + got_topk,
                                  base_bool + base_topk):
        assert abs(s1 - s2) < 1e-9
    # and the driver path itself stayed un-fallbacked
    assert eng.driver_fallbacks == 0


def test_boolean_batch_constant_depth_plan(spark, tmp_path):
    """r5 (VERDICT r4 #2): the accept predicate is data (a broadcast
    steps table folded by ONE higher-order aggregate), so the Catalyst
    tree must not grow with batch size — a 300-query batch's analyzed
    plan stays within a small constant factor of a 5-query batch's,
    and results stay rank-identical to the driver set algebra."""
    import random
    import time

    from super_rag_spark.query.engine import BM25Engine

    vocab = ["alpha", "beta", "gamma", "delta", "omega"]
    rows = [(f"https://cd.example/{i}",
             " ".join(random.Random(i).sample(vocab, 3)) + f" pad{i}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "cdidx")).build(
        docs, text_is_extracted=True)

    rng = random.Random(5)

    def mk_expr():
        n = rng.randint(1, 5)
        terms = [rng.choice(vocab) for _ in range(n)]
        ops = [rng.choice(["AND", "OR", "NOT"]) for _ in range(n - 1)]
        return terms[0] + "".join(
            f" {op} {t}" for op, t in zip(ops, terms[1:]))

    small = [(i, mk_expr()) for i in range(5)]
    big = [(i, mk_expr()) for i in range(300)]

    p_small = eng.boolean_batch(small, k=5)._jdf.queryExecution() \
        .optimizedPlan().toString()
    t0 = time.time()
    big_df = eng.boolean_batch(big, k=5)
    p_big = big_df._jdf.queryExecution().optimizedPlan().toString()
    analysis_sec = time.time() - t0
    assert len(p_big) < 3 * len(p_small) + 2000, (
        f"plan grows with batch size: {len(p_small)} -> {len(p_big)}")
    assert analysis_sec < 30, analysis_sec

    got = {}
    for r in big_df.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for qid, expr in big[:20] + big[-5:]:
        drv = [(i + 1, d, round(s, 9))
               for i, (d, s) in enumerate(eng.boolean_topk(expr, k=5))]
        assert sorted(got.get(qid, [])) == drv, (qid, expr)


def test_facet_counts_over_match_set(spark, tmp_path):
    """r5: engine.facet_counts buckets the FULL match set by host /
    doc_stats column; boolean chains and OR-bags agree with hand
    counts; deterministic (n_docs DESC, facet) order."""
    from super_rag_spark.query.engine import BM25Engine

    rows = [
        ("https://a.example/1", "alpha beta"),
        ("https://a.example/2", "alpha gamma"),
        ("https://b.example/1", "alpha delta"),
        ("https://b.example/2", "beta delta"),
        ("https://c.example/1", "epsilon only"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "facetidx")).build(
        docs, text_is_extracted=True)

    got = [(r["facet"], r["n_docs"])
           for r in eng.facet_counts("alpha").collect()]
    assert got == [("a.example", 2), ("b.example", 1)]

    # OR-bag: 'alpha beta' matches a1,a2,b1,b2
    got = [(r["facet"], r["n_docs"])
           for r in eng.facet_counts("alpha beta").collect()]
    assert got == [("a.example", 2), ("b.example", 2)]

    # boolean chain narrows the set: alpha NOT beta -> a2, b1
    got = [(r["facet"], r["n_docs"])
           for r in eng.facet_counts("alpha NOT beta", boolean=True).collect()]
    assert got == [("a.example", 1), ("b.example", 1)]

    # facet by a doc_stats column directly
    got = eng.facet_counts("epsilon", by="url").collect()
    assert [(r["facet"], r["n_docs"]) for r in got] == [
        ("https://c.example/1", 1)]

    # top cap is honored
    assert len(eng.facet_counts("alpha beta", top=1).collect()) == 1

    with pytest.raises(ValueError, match="at least one term"):
        eng.facet_counts("")


def test_facet_counts_plan_reads_only_index(spark, tmp_path):
    """The facet plan sources postings + doc_stats — never the corpus."""
    from super_rag_spark.query.engine import BM25Engine

    docs = spark.createDataFrame(
        [("https://p.example/1", "alpha beta")], "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "fpidx")).build(
        docs, text_is_extracted=True)
    plan = _plan_of(eng.facet_counts("alpha"))
    # postings leg: the block decoder; doc_stats leg: a parquet scan
    # projecting (doc_id, url) — path names truncate under long tmp
    # dirs, so assert on plan features, not directory names
    assert "decode_postings_map_in_arrow" in plan
    assert "struct<doc_id:bigint,url:string>" in plan


def test_sorted_topk_by_field(spark, tmp_path):
    """r5: engine.sorted_topk orders the FULL match set by a doc_stats
    key (meta_cols column / dl / host), url ASC tie-break, NULLs last,
    ascending flag, boolean grammar."""
    from super_rag_spark.query.engine import BM25Engine

    rows = [
        ("https://a.example/1", "alpha beta", 30),
        ("https://a.example/2", "alpha gamma", 10),
        ("https://b.example/1", "alpha delta", 20),
        ("https://b.example/2", "beta delta", 20),   # tie with b1 on prio
        ("https://c.example/1", "epsilon only", 99),
    ]
    docs = spark.createDataFrame(rows, "url string, text string, prio int")
    eng = BM25Engine(spark, str(tmp_path / "sortidx")).build(
        docs, text_is_extracted=True, meta_cols=("prio",))

    got = [(r["rank"], r["url"], r["sort_value"])
           for r in eng.sorted_topk("alpha beta", by="prio").collect()]
    assert got == [
        (1, "https://a.example/1", 30),
        (2, "https://b.example/1", 20),   # tie -> url ASC
        (3, "https://b.example/2", 20),
        (4, "https://a.example/2", 10),
    ]

    asc = [r["url"] for r in
           eng.sorted_topk("alpha beta", by="prio", ascending=True,
                           k=2).collect()]
    assert asc == ["https://a.example/2", "https://b.example/1"]

    # boolean grammar narrows the match set first
    got = [r["url"] for r in
           eng.sorted_topk("alpha NOT beta", boolean=True,
                           by="prio").collect()]
    assert got == ["https://b.example/1", "https://a.example/2"]

    # sort by host (facet_key_expr derivation) and by dl both run
    assert eng.sorted_topk("alpha", by="host").count() == 3
    assert eng.sorted_topk("alpha", by="dl").count() == 3

    with pytest.raises(ValueError, match="at least one term"):
        eng.sorted_topk("", by="prio")


def test_match_count(spark, tmp_path):
    """r5: engine.match_count — the ES _count endpoint; OR-bag and
    boolean-chain counts agree with hand set algebra."""
    from super_rag_spark.query.engine import BM25Engine

    rows = [
        ("https://a.example/1", "alpha beta"),
        ("https://a.example/2", "alpha gamma"),
        ("https://b.example/1", "alpha delta"),
        ("https://b.example/2", "beta delta"),
        ("https://c.example/1", "epsilon only"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "cntidx")).build(
        docs, text_is_extracted=True)
    assert eng.match_count("alpha") == 3
    assert eng.match_count("alpha beta") == 4          # OR-bag union
    assert eng.match_count("alpha NOT beta", boolean=True) == 2
    assert eng.match_count("nothere") == 0
    with pytest.raises(ValueError, match="at least one term"):
        eng.match_count("")
