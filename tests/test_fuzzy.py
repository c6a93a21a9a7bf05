"""r4 fuzzy search: SymSpell deletion-neighborhood correction against
the vocabulary sidecar — lev implementations agree across engines, the
neighborhood join finds exactly the distance<=1 candidates, and the
driver + distributed correctors pick identical winners."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from super_rag_spark.index.vocab import deletion_variants, levenshtein


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_levenshtein_and_neighborhood_property(data):
    """python lev == classic DP; and the SymSpell invariant: two
    strings share a deletion variant IFF ... distance<=1 implies a
    shared variant (the join's recall guarantee)."""
    alpha = "abc"
    a = "".join(data.draw(st.lists(st.sampled_from(alpha), min_size=0,
                                   max_size=6)))
    b = "".join(data.draw(st.lists(st.sampled_from(alpha), min_size=0,
                                   max_size=6)))
    d = levenshtein(a, b)
    # reference DP (independent implementation)
    la, lb = len(a), len(b)
    dp = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        dp[i][0] = i
    for j in range(lb + 1):
        dp[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            dp[i][j] = min(dp[i - 1][j] + 1, dp[i][j - 1] + 1,
                           dp[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
    assert d == dp[la][lb]
    if d <= 1:  # recall guarantee of the deletion-neighborhood join
        assert set(deletion_variants(a)) & set(deletion_variants(b))


def test_levenshtein_matches_spark_and_duckdb(spark):
    import duckdb

    pairs = [("hello", "hallo"), ("cat", "cats"), ("abc", "acb"),
             ("", "x"), ("same", "same"), ("kitten", "sitting")]
    sdf = spark.createDataFrame(pairs, "a string, b string")
    got_spark = [r["d"] for r in
                 sdf.selectExpr("levenshtein(a, b) AS d").collect()]
    con = duckdb.connect()
    got_duck = [con.execute("SELECT levenshtein(?, ?)", list(p)).fetchone()[0]
                for p in pairs]
    got_py = [levenshtein(a, b) for a, b in pairs]
    assert got_py == got_spark == got_duck


@pytest.fixture(scope="module")
def fuzzy_engine(spark, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    rows = [(f"https://f.example/{i}",
             ["alpha beta gamma common", "alpha delta common zz",
              "gamma epsilon common qq"][i % 3] + f" pad{i}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "url string, text string")
    idx = str(tmp_path_factory.mktemp("fuzzidx") / "idx")
    return BM25Engine(spark, idx).build(docs, vocab=True,
                                        text_is_extracted=True)


def test_fuzzy_correction_semantics(spark, fuzzy_engine):
    eng = fuzzy_engine
    snap = eng._snapshot()
    # in-vocab term passes through (distance 0 wins)
    assert eng._correct_term(snap, "alpha") == "alpha"
    # one-edit typos correct: substitution, deletion, insertion
    assert eng._correct_term(snap, "alpja") == "alpha"
    assert eng._correct_term(snap, "alph") == "alpha"
    assert eng._correct_term(snap, "alphaa") == "alpha"
    # hopeless strings return None
    assert eng._correct_term(snap, "zzzzzzz") is None
    # tie-break: higher-df term wins at equal distance ('common' occurs
    # in every doc; craft a typo equidistant to two vocab terms)
    # 'gamm' -> gamma (dist 1); 'bet' vs 'beta'... use explicit check:
    assert eng._correct_term(snap, "gamm") == "gamma"

    # fuzzy_topk == exact topk on the corrected text
    exact = eng.topk("alpha beta", k=10)
    fuzzy = eng.fuzzy_topk("alpja betx", k=10)
    assert fuzzy == exact
    # uncorrectable-only query -> empty
    assert eng.fuzzy_topk("qwxyzzz", k=5) == []


def test_fuzzy_driver_equals_distributed(spark, fuzzy_engine):
    from super_rag_spark.index.vocab import correct_terms_batch

    terms = ["alpha", "alpja", "gamm", "commn", "zzzzzzz", "padd1"]
    dist = {r["qterm"]: r["term"] for r in
            correct_terms_batch(spark, fuzzy_engine.store, terms).collect()}
    snap = fuzzy_engine._snapshot()
    for t in terms:
        assert dist.get(t) == fuzzy_engine._correct_term(snap, t), t


def test_fuzzy_requires_vocab_sidecar(spark, tmp_path):
    from super_rag_spark.query.engine import BM25Engine

    docs = spark.createDataFrame(
        [("https://nv.example/1", "alpha beta")], "url string, text string")
    eng = BM25Engine(spark, str(tmp_path / "novoc")).build(
        docs, text_is_extracted=True)
    with pytest.raises(ValueError, match="vocabulary sidecar"):
        eng.fuzzy_topk("alpja", k=5)


def test_suggest_prefix_autocomplete(spark, fuzzy_engine):
    """r4: driver suggest == distributed suggest_batch; df-desc
    ranking; prefix semantics."""
    from super_rag_spark.index.vocab import suggest_batch

    drv = fuzzy_engine.suggest("al", k=5)
    assert drv and all(t.startswith("al") for t, _ in drv)
    assert drv[0][0] == "alpha"  # highest-df 'al' term in the corpus
    dfs = [d for _, d in drv]
    assert dfs == sorted(dfs, reverse=True)

    dist = [(r["term"], r["df"]) for r in
            suggest_batch(spark, fuzzy_engine.store, [(0, "al")], k=5)
            .orderBy("rank").collect()]
    assert dist == drv
    assert fuzzy_engine.suggest("zzz", k=5) == []


def test_prefix_topk_wildcard(spark, fuzzy_engine):
    """r5: prefix_topk == topk over the df-capped expansion set; cap
    and determinism; vocab requirement."""
    eng = fuzzy_engine
    # expansion set for 'ga' is exactly {'gamma'} -> identical to topk
    assert eng.prefix_topk("ga", k=10) == eng.topk("gamma", k=10)
    # multi-expansion prefix: equals the OR-bag of its expansions
    exp = [t for t, _ in eng.suggest("al", k=50)]
    assert set(exp) == {"alpha"}  # corpus has one 'al' term
    # 'pad*' expands to many padN terms; cap caps deterministically
    capped = [t for t, _ in eng.suggest("pad", k=5)]
    assert len(capped) == 5
    got = eng.prefix_topk("pad", k=10, max_expansions=5)
    want = eng.topk(" ".join(sorted(capped)), k=10)
    assert got == want
    # no matching vocab term -> empty; empty prefix -> error
    assert eng.prefix_topk("zzz", k=5) == []
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        eng.prefix_topk("", k=5)


def test_vocab_expansions_skip_summary_routing(spark, tmp_path):
    """Expanded terms are scored as they are: a leading 'summar' token
    routes a topk query string to the summary index, but an expansion
    set (or a '*'-free wildcard) is never routed, so 'summ' keeps
    'summary'."""
    from super_rag_spark.oracle import build_oracle
    from super_rag_spark.query.engine import BM25Engine

    rows = [(f"https://sm.example/{i}",
             ["summary of the summer", "summer camp notes", "a summary",
              "summit in summer"][i % 4] + f" pad{i}")
            for i in range(16)]
    eng = BM25Engine(spark, str(tmp_path / "summ")).build(
        spark.createDataFrame(rows, "url string, text string"),
        vocab=True, text_is_extracted=True)
    oracle = build_oracle(rows)
    want = oracle.topk("summary summer summit", k=20)
    cases = [(eng.prefix_topk("summ", k=20), want),
             (eng.wildcard_topk("summ*", k=20), want),
             (eng.regexp_topk("summ[a-z]*", k=20), want),
             (eng.wildcard_topk("summary", k=20),
              oracle.topk("summary", k=20))]
    for got, exp in cases:
        assert exp and [d for d, _ in got] == [d for d, _ in exp]
        assert [s for _, s in got] == pytest.approx([s for _, s in exp],
                                                    rel=1e-9)


# --------------------------------------------------------- depth-2 (r5)

@pytest.fixture(scope="module")
def fuzzy2_engine(spark, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    rows = [(f"https://f2.example/{i}",
             ["alpha beta gamma common", "alpha delta common zz",
              "gamma epsilon common qq"][i % 3] + f" pad{i}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "url string, text string")
    idx = str(tmp_path_factory.mktemp("fuzz2idx") / "idx")
    return BM25Engine(spark, idx).build(docs, vocab=2,
                                        text_is_extracted=True)


@given(st.text(alphabet="abc", min_size=0, max_size=6),
       st.text(alphabet="abc", min_size=0, max_size=6))
@settings(max_examples=300, deadline=None)
def test_depth2_neighborhood_property(a, b):
    """distance<=2 implies a shared depth-2 deletion variant — the
    SymSpell guarantee fuzzy max_dist=2 rests on."""
    from super_rag_spark.index.vocab import deletion_neighborhood

    if levenshtein(a, b) <= 2:
        assert set(deletion_neighborhood(a, 2)) & \
            set(deletion_neighborhood(b, 2))


def test_fuzzy2_corrects_distance2(spark, fuzzy2_engine):
    from super_rag_spark.index.vocab import vocab_depth

    assert vocab_depth(fuzzy2_engine.store, 0) == 2
    snap = fuzzy2_engine._snapshot()
    # two substitutions / two deletions / two insertions
    assert fuzzy2_engine._correct_term(snap, "olphq", max_dist=2) == "alpha"
    assert fuzzy2_engine._correct_term(snap, "gam", max_dist=2) == "gamma"
    assert fuzzy2_engine._correct_term(snap, "commonxy",
                                       max_dist=2) == "common"
    # distance-3 stays out of reach
    assert fuzzy2_engine._correct_term(snap, "xxxxha", max_dist=2) is None
    # d2 typo query retrieves like the corrected query
    assert fuzzy2_engine.fuzzy_topk("olphq commn", k=5, max_dist=2) == \
        fuzzy2_engine.topk("alpha common", k=5)


def test_fuzzy_depth1_rejects_max_dist2(fuzzy_engine):
    with pytest.raises(ValueError):
        fuzzy_engine._correct_term(fuzzy_engine._snapshot(), "olphq",
                                   max_dist=2)
    with pytest.raises(ValueError):
        fuzzy_engine.fuzzy_topk("alpha", max_dist=2)


def test_fuzzy2_distributed_equals_driver(spark, fuzzy2_engine):
    from super_rag_spark.index.vocab import correct_terms_batch

    terms = ["olphq", "gam", "commonxy", "alpja", "zzzzzzzzz"]
    dist = {r["qterm"]: r["term"] for r in
            correct_terms_batch(spark, fuzzy2_engine.store, terms,
                                max_dist=2).collect()}
    snap = fuzzy2_engine._snapshot()
    for t in terms:
        assert dist.get(t) == fuzzy2_engine._correct_term(
            snap, t, max_dist=2), t


def test_fuzzy2_depth_survives_merge(spark, fuzzy2_engine):
    from super_rag_spark.index.merge import merge_append
    from super_rag_spark.index.vocab import vocab_depth

    delta = spark.createDataFrame(
        [(f"https://f2.example/d{i}", f"omega common fresh{i}")
         for i in range(4)], "url string, text string")
    merge_append(spark, fuzzy2_engine.store.root, delta)
    epoch = fuzzy2_engine.store.epoch()
    assert vocab_depth(fuzzy2_engine.store, epoch) == 2
    assert fuzzy2_engine._correct_term(
        fuzzy2_engine._snapshot(), "omga", max_dist=2) == "omega"
