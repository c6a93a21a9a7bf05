"""Lucene query-string search (query/qstring.py + engine.query_string_topk):
parser shape/errors, semantics vs a pure-Python reference evaluator,
driver == distributed plan, and the weighted-scorer candidates contract."""

import math
import re

import numpy as np
import pytest

from super_rag_spark import analysis
from super_rag_spark.analysis import doc_id_for_url, tokenize
from super_rag_spark.query import qstring
from super_rag_spark.query.qstring import (And, Fuzzy, Not, Or, Phrase,
                                           Prefix, Term, Wildcard,
                                           parse_query_string)

# ------------------------------------------------------------- parser


def test_parse_precedence_and_parens():
    n = parse_query_string("a OR b AND c")
    assert isinstance(n, Or) and isinstance(n.children[1], And)
    assert n.children[0] == Term("a")
    n = parse_query_string("(a OR b) AND c")
    assert isinstance(n, And) and isinstance(n.children[0], Or)


def test_parse_implicit_and_and_minus():
    n = parse_query_string("alpha beta -gamma")
    assert isinstance(n, And) and len(n.children) == 3
    assert n.children[2] == Not(Term("gamma"))
    # '+' is the default (must): a no-op prefix
    assert parse_query_string("+alpha beta") == parse_query_string("alpha beta")


def test_parse_leaf_suffixes():
    n = parse_query_string('alpha^2.5 ga* fuzz~2 plain~ "a b"~1^3')
    assert n.children[0] == Term("alpha", 2.5)
    assert n.children[1] == Prefix("ga", 1.0)
    assert n.children[2] == Fuzzy("fuzz", 2, 1.0)
    assert n.children[3] == Fuzzy("plain", 1, 1.0)
    ph = n.children[4]
    assert ph == Phrase(["a", "b"], slop=1, boost=3.0)
    # single-token phrase degenerates to a term
    assert parse_query_string('"solo"^2') == Term("solo", 2.0)
    # mid-term wildcard (r5): trailing-only '*' stays a Prefix
    n = parse_query_string("al*a^2 ga*")
    assert n.children[0] == Wildcard("al*a", 2.0)
    assert n.children[1] == Prefix("ga", 1.0)


@pytest.mark.parametrize("bad", [
    "",                      # empty
    "a AND",                 # dangling operator
    "(a OR b",               # unbalanced
    "a) b",                  # unbalanced the other way
    "-a",                    # pure negative
    "NOT a",                 # pure negative (word form)
    "a OR -b",               # NOT directly under OR
    "NOT NOT a AND b",       # double negation
    'a AND ""',              # empty phrase
    "mi?dle",                # '?' single-char wildcard unsupported
    "**",                    # wildcard with no literal
    "foo*bar~1",             # wildcard + fuzzy combination
    "foo-bar AND x",         # multi-token operand
    "a ~2",                  # bare fuzzy suffix token ('~2' has no body)
    "pre*~1",                # both prefix and fuzzy
])
def test_parse_rejects(bad):
    with pytest.raises(ValueError):
        parse_query_string(bad)


def test_scoring_bag_sums_duplicate_terms():
    n = parse_query_string('alpha^2 (alpha OR beta)')
    bag = qstring.scoring_bag(n)
    assert bag == {"alpha": 3.0, "beta": 1.0}
    # NOT subtrees never score
    n = parse_query_string("alpha -beta")
    assert qstring.scoring_bag(n) == {"alpha": 1.0}


# --------------------------------------------------- engine fixture

TEXTS = [
    "alpha beta gamma common stream",
    "alpha delta common zz stream batch",
    "gamma epsilon common qq batch",
    "beta gamma alpha common window",
]


@pytest.fixture(scope="module")
def qs_setup(spark, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    rows = [(f"https://qs.example/{i}", TEXTS[i % 4] + f" pad{i}")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "url string, text string")
    idx = str(tmp_path_factory.mktemp("qsidx") / "idx")
    eng = BM25Engine(spark, idx).build(
        docs, vocab=2, positions=True, text_is_extracted=True,
        n_buckets=8, salt_df_threshold=200)
    return eng, rows, docs


# Pure-Python reference: evaluates the SAME AST over tokenized rows.
# Expansion predicates run over the whole corpus vocabulary (the engine
# matches it when max_expansions doesn't bind), so this is an
# independent formulation of both candidates and scores.

def _ref_topk(rows, query, k=10):
    from super_rag_spark.index.vocab import levenshtein
    from super_rag_spark.query.phrase import phrase_pattern

    node = parse_query_string(query)
    toks = {doc_id_for_url(u): tokenize(t) for u, t in rows}
    vocab = sorted({t for ts in toks.values() for t in ts})
    dfreq = {}
    for ts in toks.values():
        for t in set(ts):
            dfreq[t] = dfreq.get(t, 0) + 1
    n_docs = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n_docs

    def leaf_terms(n):
        if isinstance(n, Term):
            return [n.text] if n.text in dfreq else []
        if isinstance(n, Prefix):
            return [t for t in vocab if t.startswith(n.stem)]
        if isinstance(n, Wildcard):
            pat = re.compile(
                "^" + ".*".join(re.escape(p)
                                for p in n.pattern.split("*")) + "$")
            return [t for t in vocab if pat.match(t)]
        if isinstance(n, Fuzzy):
            return [t for t in vocab if levenshtein(t, n.text) <= n.dist]
        raise TypeError

    def ev(n):
        if isinstance(n, (Term, Prefix, Wildcard, Fuzzy)):
            ts = set(leaf_terms(n))
            return {d for d, tt in toks.items() if ts & set(tt)}
        if isinstance(n, Phrase):
            pat = phrase_pattern(n.terms, n.slop)
            out = set()
            for d, tt in toks.items():
                jt = " " + " ".join(tt) + " "
                hit = (pat in jt) if n.slop == 0 else re.search(pat, jt)
                if hit:
                    out.add(d)
            return out
        if isinstance(n, And):
            pos = [c for c in n.children if not isinstance(c, Not)]
            neg = [c for c in n.children if isinstance(c, Not)]
            out = ev(pos[0])
            for c in pos[1:]:
                out &= ev(c)
            for c in neg:
                out -= ev(c.child)
            return out
        if isinstance(n, Or):
            out = set()
            for c in n.children:
                out |= ev(c)
            return out
        raise TypeError

    bag = {}

    def fill(n):
        if isinstance(n, (Term, Prefix, Wildcard, Fuzzy)):
            for t in leaf_terms(n):
                bag[t] = bag.get(t, 0.0) + n.boost
        elif isinstance(n, Phrase):
            for t in sorted(set(n.terms)):
                if t in dfreq:
                    bag[t] = bag.get(t, 0.0) + n.boost
        elif isinstance(n, (And, Or)):
            for c in n.children:
                fill(c)

    fill(node)
    cand = ev(node)
    scored = []
    for d in cand:
        tt = toks[d]
        dl = len(tt)
        s = 0.0
        for t in sorted(bag):
            tf = tt.count(t)
            if not tf:
                continue
            idf = math.log((n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            c = idf * (tf * (analysis.K1 + 1.0)) / (
                tf + analysis.K1 * (1.0 - analysis.B
                                    + analysis.B * dl / avgdl))
            s += c * bag[t] if bag[t] != 1.0 else c
        scored.append((d, s))
    scored.sort(key=lambda x: (-round(x[1], 9), x[0]))
    return scored[:k]


QS_CASES = [
    "alpha AND (gamma OR delta) -epsilon",
    '"alpha beta" OR batch^2',
    '"beta gamma"~1 AND common',
    "ga* AND stream",
    "alpja~1 window^1.5",
    "alpha beta -batch",
    "(stream OR window) AND ga*",
    'common -"alpha beta"',
    "a*a AND common",          # mid-term wildcard: alpha
    "*eam OR g*a^2",           # leading-* and mid patterns
]


@pytest.mark.parametrize("q", QS_CASES)
def test_query_string_matches_reference(qs_setup, q):
    eng, rows, _docs = qs_setup
    got = eng.query_string_topk(q, k=10, max_expansions=1000)
    want = _ref_topk(rows, q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9)


@pytest.mark.parametrize("q", QS_CASES)
def test_query_string_distributed_equals_driver(qs_setup, q):
    eng, rows, _docs = qs_setup
    driver = eng.query_string_topk(q, k=10, max_expansions=1000)
    budget = eng.driver_df_budget
    try:
        eng.driver_df_budget = -1  # force the distributed plan
        dist = eng.query_string_topk(q, k=10, max_expansions=1000)
    finally:
        eng.driver_df_budget = budget
    assert [d for d, _ in dist] == [d for d, _ in driver]
    for (_, a), (_, b) in zip(dist, driver):
        assert a == pytest.approx(b, abs=1e-9)


def test_query_string_corpus_verify_path(qs_setup):
    """Phrase leaves verify against docs_df (match-then-verify) when
    passed — identical to the positional-sidecar path."""
    eng, rows, docs = qs_setup
    q = '"beta gamma"~1 AND common'
    via_positions = eng.query_string_topk(q, k=10)
    via_corpus = eng.query_string_topk(q, k=10, docs_df=docs)
    assert via_positions == via_corpus
    # distributed corpus-verify too
    budget = eng.driver_df_budget
    try:
        eng.driver_df_budget = -1
        dist = eng.query_string_topk(q, k=10, docs_df=docs)
    finally:
        eng.driver_df_budget = budget
    assert [d for d, _ in dist] == [d for d, _ in via_positions]


def test_query_string_oov_and_empty(qs_setup):
    eng, _rows, _docs = qs_setup
    # OOV conjunct empties the result; OOV disjunct does not
    assert eng.query_string_topk("alpha AND zzzzmissing") == []
    assert eng.query_string_topk("alpha OR zzzzmissing")
    # all positive leaves OOV -> empty bag -> []
    assert eng.query_string_topk("zzzzmissing") == []


def test_query_string_needs_positions_or_corpus(spark, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    rows = [(f"https://np.example/{i}", "alpha beta gamma") for i in range(5)]
    docs = spark.createDataFrame(rows, "url string, text string")
    idx = str(tmp_path_factory.mktemp("qsnp") / "idx")
    eng = BM25Engine(spark, idx).build(docs, text_is_extracted=True)
    with pytest.raises(ValueError, match="positional sidecar"):
        eng.query_string_topk('"alpha beta"')
    # fine with the corpus passed
    assert eng.query_string_topk('"alpha beta"', docs_df=docs)


def test_weighted_arrays_candidates_contract():
    """With weights, vectorized_topk_arrays(candidates=) restricts
    exactly as it does without them."""
    from super_rag_spark.query.wand import vectorized_topk_arrays

    rng = np.random.default_rng(7)
    arrays = {}
    for i, t in enumerate(["t0", "t1", "t2"]):
        docs = np.unique(rng.integers(0, 60, size=25)).astype(np.int64)
        tfs = rng.integers(1, 5, size=len(docs)).astype(np.int64)
        dls = rng.integers(20, 60, size=len(docs)).astype(np.int64)
        arrays[t] = (len(docs), docs, tfs, dls)
    cand = np.arange(0, 60, 3, dtype=np.int64)
    a = vectorized_topk_arrays(arrays, 100, 40.0, 10, candidates=cand)
    w = vectorized_topk_arrays(arrays, 100, 40.0, 10, candidates=cand,
                               weights={t: 1.0 for t in arrays})
    assert a == w
    allowed = set(cand.tolist())
    assert all(d in allowed for d, _ in w)


def test_accepted_docs_plan_reads_only_index(qs_setup):
    """A term-only tree's distributed candidate plan sources postings
    only — no corpus scan anywhere (the boolean plan test's device);
    a phrase leaf adds exactly its positional-sidecar verify, still
    corpus-free."""
    import contextlib
    import io

    from super_rag_spark.query.qstring import (accepted_docs_df,
                                               expand_leaves,
                                               parse_query_string)

    eng, _rows, _docs = qs_setup

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    node = parse_query_string("alpha AND (gamma OR delta) -epsilon")
    cand = accepted_docs_df(eng.spark, eng.store, node)
    plan = plan_of(cand)
    assert "postings" in plan
    assert "qsidx" not in plan.replace(eng.store.root, "")  # paranoia
    for marker in ("text", "webtext", ".fixtures"):
        assert marker not in plan, marker

    # phrase leaf, positional sidecar: still no corpus in the plan
    node = expand_leaves(eng, parse_query_string('"alpha beta" AND common'))
    cand = accepted_docs_df(eng.spark, eng.store, node)
    plan = plan_of(cand)
    assert "positions" in plan
    for marker in ("webtext", ".fixtures"):
        assert marker not in plan, marker


# ---------------------------------------------------- parser fuzzing

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet='abc01 ()"*~^-+ANDORT.', max_size=40))
def test_parser_total_over_junk(s):
    """parse_query_string is TOTAL over arbitrary input: it returns an
    AST or raises ValueError — never any other exception."""
    try:
        parse_query_string(s)
    except ValueError:
        pass


_WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "qq"])


@st.composite
def _tree(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        kind = draw(st.integers(0, 3))
        w = draw(_WORDS)
        if kind == 0:
            return w
        if kind == 1:
            return f"{w}^{draw(st.integers(1, 9))}"
        if kind == 2:
            return f"{w}*"
        return f'"{w} {draw(_WORDS)}"'
    op = draw(st.sampled_from([" AND ", " OR ", " "]))
    left = draw(_tree(depth + 1))
    right = draw(_tree(depth + 1))
    neg = "-" if (op != " OR " and draw(st.booleans())) else ""
    return f"({left}{op}{neg}{right})"


@settings(max_examples=200, deadline=None)
@given(_tree())
def test_parser_accepts_generated_trees(q):
    """Every tree the generator emits is grammatically valid: it
    parses, its scoring bag only names generated literals, and leaf
    enumeration matches the re-parse (parser determinism)."""
    node = parse_query_string(q)
    bag = qstring.scoring_bag(node)
    assert all(t.rstrip("*") and t[0].isalpha() for t in bag)
    assert parse_query_string(q) == node


def test_search_qs_lifecycle(qs_setup):
    """r5: search(qs=True) — the query-string DSL under the full
    filter/materialize/snippet lifecycle (ES query_string + filter
    context). Selective filters intersect on the driver, broad ones
    semi-join distributed; both match the filtered full ranking."""
    import pyspark.sql.functions as F

    eng, rows, docs = qs_setup
    spark = eng.spark
    q = '("alpha beta" OR batch^2) AND common'

    # unfiltered: identical ranking to query_string_topk
    got = [(r["doc_id"], r["score"]) for r in
           eng.search(q, k=10, qs=True).orderBy("rank").collect()]
    want = eng.query_string_topk(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]

    # filtered: expected = the filtered full ranking's head (BM25
    # scores are per-doc, so filter-then-cut == cut-over-filtered)
    meta = spark.createDataFrame(
        [(doc_id_for_url(u), "even" if i % 2 == 0 else "odd")
         for i, (u, _) in enumerate(rows)], "doc_id long, parity string")
    allowed = {r["doc_id"] for r in
               meta.where(F.col("parity") == "even").collect()}
    full = eng.query_string_topk(q, k=100)
    expect = [(d, s) for d, s in full if d in allowed][:10]
    where = {"must": [{"key": "parity", "match": {"value": "even"}}]}
    for dfm in (10_000, 0):  # driver-intersect path, then forced cand_df
        res = eng.search(q, k=10, qs=True, docs_meta=meta, where=where,
                         driver_filter_max=dfm).orderBy("rank").collect()
        assert [r["doc_id"] for r in res] == [d for d, _ in expect], dfm
        assert all(r["doc_id"] in allowed for r in res)

    # snippets highlight the BAG terms, not the raw operator string
    res = eng.search('batch^2 AND common', k=5, qs=True,
                     snippet_docs=docs, snippet_mark=True,
                     snippet_fragments=2).collect()
    assert res
    assert all("<em>" in r["snippet"] for r in res if r["snippet"])
    assert not any("and" in (r["snippet"] or "").lower().split()
                   for r in res)

    # phrase leaves need positions when no corpus handle exists
    from super_rag_spark.query.engine import BM25Engine
    import tempfile

    nop_docs = eng.spark.createDataFrame(
        [("https://np2.example/1", "alpha beta")], "url string, text string")
    with tempfile.TemporaryDirectory() as td:
        nop = BM25Engine(eng.spark, td + "/idx").build(
            nop_docs, text_is_extracted=True)
        with pytest.raises(ValueError, match="positional sidecar"):
            nop.search('"alpha beta"', qs=True)


def test_search_qs_selective_filter_over_budget(qs_setup):
    """Review regression (r5): a SELECTIVE metadata filter must bind on
    the distributed path too — an over-budget tree may not waive it,
    and an empty filter returns nothing, not unfiltered hits."""
    import pyspark.sql.functions as F

    eng, rows, _docs = qs_setup
    spark = eng.spark
    meta = spark.createDataFrame(
        [(doc_id_for_url(u), "even" if i % 2 == 0 else "odd")
         for i, (u, _) in enumerate(rows)], "doc_id long, parity string")
    allowed = {r["doc_id"] for r in
               meta.where(F.col("parity") == "even").collect()}
    where = {"must": [{"key": "parity", "match": {"value": "even"}}]}
    q = "(alpha OR gamma) AND common"
    budget = eng.driver_df_budget
    try:
        eng.driver_df_budget = -1  # every tree is now 'over budget'
        res = eng.search(q, k=10, qs=True, docs_meta=meta,
                         where=where).collect()
        assert res and all(r["doc_id"] in allowed for r in res)
        # filter matching NOTHING -> no hits (not unfiltered results)
        none = {"must": [{"key": "parity", "match": {"value": "zz"}}]}
        assert eng.search(q, k=10, qs=True, docs_meta=meta,
                          where=none).collect() == []
    finally:
        eng.driver_df_budget = budget


def test_qs_and_span_skip_summary_routing(qs_setup):
    """Review regression (r5): the 'summarize'-prefix router must not
    eat a legitimate leading term of a structured query."""
    eng, rows, _docs = qs_setup
    # 'summary AND alpha' parses (would have been 'AND alpha' -> error)
    assert eng.query_string_topk("summary AND alpha") == []  # OOV term
    assert eng.search("summary AND alpha", qs=True).collect() == []
    assert eng.search("alpha AND common", qs=True).count() > 0
    # span-near keeps both terms ('summary x' used to strip to 1 term)
    assert eng.span_near_topk("summary alpha", slop=2) == []  # OOV
    got = eng.span_near_topk("beta alpha", slop=0)
    assert got  # unaffected queries still work
