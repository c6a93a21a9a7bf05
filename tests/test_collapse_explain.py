"""r5 surfaces: field collapse, recency decay, score explain, wildcard.

Reference analogs: Lucene/ES collapse + function_score decay +
Explanation + WildcardQuery over the retrieval core the reference
delegates to its vector DBs (/root/reference/vectordbs/qdrant.py:73-108
query path); here they run over the sparse index's full match set.
"""

import datetime
import math

import pytest
from pyspark.sql import functions as F

from super_rag_spark.analysis import doc_id_for_url, tokenize

NOW = "2026-03-01 00:00:00"


def _corpus(spark):
    base = datetime.datetime(2026, 1, 1)
    words = ["slow", "storm", "system", "snow", "seam", "cat", "mat"]
    rows = []
    for i in range(24):
        text = " ".join(
            ["common"] * (1 + i % 3)
            + [words[i % len(words)], words[(i * 3 + 1) % len(words)]]
            + [f"filler{i}"])
        rows.append((f"https://h{i % 4}.example/p{i}",
                     base + datetime.timedelta(days=7 * (i % 9)), text))
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")


@pytest.fixture(scope="module")
def rich_engine(spark, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    idx = str(tmp_path_factory.mktemp("richidx") / "idx")
    return BM25Engine(spark, idx).build(
        _corpus(spark), text_is_extracted=True,
        meta_cols=("warc_ts",), vocab=True, positions=True)


def _all_matches(eng, qtext):
    """Full exact match set as {doc_id: score} via the scorer itself
    (validated elsewhere) with k >= corpus size."""
    return dict(eng.topk(qtext, k=10_000, method="vectorized"))


def _url_of(spark, eng):
    return {r["doc_id"]: r["url"]
            for r in eng.store.doc_stats(spark).collect()}


# ------------------------------------------------------------- collapse

def test_collapsed_topk_one_per_host(spark, rich_engine):
    res = rich_engine.collapsed_topk("common storm", k=10, by="host").collect()
    keys = [r["key"] for r in res]
    assert len(keys) == len(set(keys)), "collapse must keep one hit per key"
    assert keys, "query matches docs on several hosts"
    # every winner is the best-scoring doc of its host over the FULL
    # match set, ranked by the winner scores
    scores = _all_matches(rich_engine, "common storm")
    urls = _url_of(spark, rich_engine)
    host = lambda u: u.split("//")[1].split("/")[0]  # noqa: E731
    best = {}
    for d, s in scores.items():
        h = host(urls[d])
        cur = best.get(h)
        key = (-round(s, 9), urls[d])
        if cur is None or key < cur[0]:
            best[h] = (key, d, s)
    got = {(r["key"], r["doc_id"]) for r in res}
    want = {(h, d) for h, (_, d, _) in best.items()}
    assert got == want
    ranks = [r["rank"] for r in sorted(
        res, key=lambda r: (-round(r["score"], 9), urls[r["doc_id"]]))]
    assert ranks == list(range(1, len(res) + 1))


def test_collapsed_topk_k_cap(rich_engine):
    res = rich_engine.collapsed_topk("common", k=2, by="host").collect()
    assert len(res) == 2 and [r["rank"] for r in res] != [0, 0]


# -------------------------------------------------------------- recency

def test_recency_decay_formula(spark, rich_engine):
    res = rich_engine.recency_topk(
        "common storm", k=50, now=NOW, half_life_days=30.0).collect()
    ts = {r["doc_id"]: r["warc_ts"]
          for r in rich_engine.store.doc_stats(spark).collect()}
    now = datetime.datetime(2026, 3, 1)
    for r in res:
        age_days = (now - ts[r["doc_id"]]).total_seconds() / 86400.0
        want = r["score"] * 0.5 ** (age_days / 30.0)
        assert r["decayed"] == pytest.approx(want, rel=1e-9)
    ranks = [r["rank"] for r in sorted(
        res, key=lambda r: -round(r["decayed"], 9))]
    assert ranks == list(range(1, len(res) + 1))


def test_recency_reorders_vs_plain(rich_engine):
    """With a short half-life the fresh docs must outrank the strong
    old ones — the order differs from plain BM25."""
    plain = [d for d, _ in rich_engine.topk("common", k=10)]
    dec = [r["doc_id"] for r in rich_engine.recency_topk(
        "common", k=10, now=NOW, half_life_days=7.0).collect()]
    assert set(dec) <= set(_all_matches(rich_engine, "common"))
    assert dec != plain


def test_recency_validates_half_life(rich_engine):
    with pytest.raises(ValueError):
        rich_engine.recency_topk("common", now=NOW, half_life_days=0)


# -------------------------------------------------------------- explain

def test_explain_contribs_sum_to_score(rich_engine):
    rows = rich_engine.explain_topk("common storm system", k=5)
    assert rows
    hits = dict(rich_engine.topk("common storm system", k=5))
    per_doc: dict[int, float] = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0.0) + r["contrib"]
        assert r["score"] == pytest.approx(hits[r["doc_id"]], rel=1e-12)
    for d, s in per_doc.items():
        assert s == pytest.approx(hits[d], rel=1e-9)
    # terms reported are exactly the query terms present in each doc
    assert {r["term"] for r in rows} <= set(tokenize("common storm system"))


def test_explain_distributed_equals_driver(rich_engine):
    driver = rich_engine.explain_topk("common storm", k=5)
    n0 = rich_engine.driver_fallbacks
    old = rich_engine.driver_df_budget
    rich_engine.driver_df_budget = 0
    # LRU-cached terms cost 0 against the budget by design — clear so
    # the fallback actually triggers (memory: lesson 34)
    rich_engine._cache.clear()
    try:
        dist = rich_engine.explain_topk("common storm", k=5)
    finally:
        rich_engine.driver_df_budget = old
    assert rich_engine.driver_fallbacks == n0 + 1  # one decision per query
    key = lambda r: (r["rank"], r["term"])  # noqa: E731
    assert sorted(dist, key=key) == sorted(driver, key=key)


def test_explain_empty_on_oov(rich_engine):
    assert rich_engine.explain_topk("zzzznotaterm", k=5) == []


# ------------------------------------------------------------- wildcard

def test_wildcard_expansion_and_scores(spark, rich_engine):
    got = rich_engine.wildcard_topk("s*m", k=10, max_expansions=10)
    vocab = {t for r in _corpus(spark).collect() for t in tokenize(r["text"])}
    exp = sorted(t for t in vocab
                 if t.startswith("s") and t.endswith("m") and len(t) > 1)
    assert exp == ["seam", "storm", "system"]
    assert got == rich_engine.topk(" ".join(exp), k=10)


def test_wildcard_max_expansions_caps_by_df(rich_engine):
    """Cap keeps the highest-df matches — 'f*' with cap 1 must keep
    the most frequent filler-free f-term set deterministically."""
    full = rich_engine.wildcard_topk("s*", k=24, max_expansions=10)
    capped = rich_engine.wildcard_topk("s*", k=24, max_expansions=1)
    assert capped and set(d for d, _ in capped) <= set(d for d, _ in full)


def test_wildcard_validation(rich_engine):
    with pytest.raises(ValueError):
        rich_engine.wildcard_topk("**", k=5)
    # no star -> plain topk
    assert (rich_engine.wildcard_topk("storm", k=5)
            == rich_engine.topk("storm", k=5))


def test_wildcard_no_match_returns_empty(rich_engine):
    assert rich_engine.wildcard_topk("zq*zq", k=5) == []


def test_regexp_topk(spark, rich_engine):
    got = rich_engine.regexp_topk("s[a-z]*m", k=10)
    vocab = {t for r in _corpus(spark).collect() for t in tokenize(r["text"])}
    import re
    exp = sorted(t for t in vocab if re.fullmatch("s[a-z]*m", t))
    assert exp == ["seam", "storm", "system"]
    assert got == rich_engine.topk(" ".join(exp), k=10)


def test_regexp_topk_validation(rich_engine):
    with pytest.raises(ValueError):
        rich_engine.regexp_topk("^storm$")
    with pytest.raises(ValueError):
        rich_engine.regexp_topk("s[a-")
    with pytest.raises(ValueError):
        rich_engine.regexp_topk("")
    assert rich_engine.regexp_topk("zq+zq") == []


def test_collapsed_topk_per_key(spark, rich_engine):
    """per_key=2 (ES inner_hits): at most two hits per host, each
    host's pair being its two best-scoring matches."""
    res = rich_engine.collapsed_topk("common", k=24, by="host",
                                     per_key=2).collect()
    per = {}
    for r in res:
        per.setdefault(r["key"], []).append(r["doc_id"])
    assert per and all(len(v) <= 2 for v in per.values())
    scores = _all_matches(rich_engine, "common")
    urls = _url_of(spark, rich_engine)
    host = lambda u: u.split("//")[1].split("/")[0]  # noqa: E731
    for h, docs in per.items():
        ranked = sorted(
            (d for d in scores if host(urls[d]) == h),
            key=lambda d: (-round(scores[d], 9), urls[d]))
        assert set(docs) == set(ranked[:2])
    with pytest.raises(ValueError):
        rich_engine.collapsed_topk("common", per_key=0)


# -------------------------------------------------------------- rescore

def _brute_span(pls):
    if not pls or any(not p for p in pls):
        return None
    best = None
    for s in sorted({x for p in pls for x in p}):
        ends = []
        for p in pls:
            cand = [x for x in p if x >= s]
            if not cand:
                ends = None
                break
            ends.append(min(cand))
        if ends is None:
            continue
        span = max(ends) - s + 1
        best = span if best is None or span < best else best
    return best


def test_rescore_topk_formula(spark, rich_engine):
    res = rich_engine.rescore_topk("common storm", k=24, window=24,
                                   weight=0.7)
    assert res
    base = dict(rich_engine.topk("common storm", k=24, method="vectorized"))
    corpus = {doc_id_for_url(r["url"]): tokenize(r["text"])
              for r in _corpus(spark).collect()}
    bonuses = set()
    for doc, final in res:
        toks = corpus[doc]
        pls = [[i + 1 for i, t in enumerate(toks) if t == q]
               for q in ("common", "storm")]
        span = _brute_span(pls)
        bonus = 0.7 / (1 + span - 2) if span is not None else 0.0
        assert final == pytest.approx(base[doc] + bonus, rel=1e-9), doc
        bonuses.add(round(bonus, 6))
    assert len(bonuses) > 1, "proximity must differentiate the window"
    finals = [f for _, f in res]
    assert finals == sorted(finals, key=lambda x: -round(x, 9))


def test_rescore_validation(spark, rich_engine, tmp_path):
    from super_rag_spark.query.engine import BM25Engine

    with pytest.raises(ValueError):
        rich_engine.rescore_topk("common", k=10, window=5)
    nopos = BM25Engine(spark, str(tmp_path / "np")).build(
        _corpus(spark).limit(6), text_is_extracted=True)
    with pytest.raises(ValueError):
        nopos.rescore_topk("common", k=2, window=4)
