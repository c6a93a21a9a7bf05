"""One snapshot per query and one epoch-keyed cache (query/engine.py):
- a merge that commits mid-query does not mix two epochs into one
  answer, on the driver path or in a distributed plan;
- a warm driver query stats manifest.json once per engine or shard,
  and a warm distributed plan reads it not at all;
- the WAND plan masks pending deletes itself;
- the cache stays within its byte budget without changing any result.
"""

import os

import pytest
from pyspark.sql import functions as F

from super_rag_spark.analysis import doc_id_for_url, tokenize
from super_rag_spark.index.merge import merge_append
from super_rag_spark.index.storage import IndexStorage, bucket_of_term
from super_rag_spark.oracle import build_oracle
from super_rag_spark.query import scoring
from super_rag_spark.query.engine import BM25Engine
from super_rag_spark.query.federated import FederatedEngine

CFG = dict(n_buckets=8, salt_df_threshold=150)
QUERY = "semudo muro fuboname"


@pytest.fixture(scope="module")
def corpus(spark, webtext_sf0001_path):
    df = spark.read.parquet(webtext_sf0001_path).select("url", "text").limit(300)
    rows = [(r["url"], r["text"]) for r in df.collect()]
    mk = lambda rs: spark.createDataFrame(rs, "url string, text string")
    return rows, mk


@pytest.fixture(scope="module")
def shards(spark, corpus, tmp_path_factory):
    """Two shard indexes with the positional and vocabulary sidecars."""
    rows, mk = corpus
    root = tmp_path_factory.mktemp("snap")
    dirs = [str(root / "a"), str(root / "b")]
    for d, part in zip(dirs, (rows[:150], rows[150:250])):
        BM25Engine(spark, d).build(mk(part), positions=True, vocab=True, **CFG)
    return dirs


def _assert_oracle(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(g - w) <= 1e-9 for (_, g), (_, w) in zip(got, want))


def test_query_keeps_its_snapshot_across_an_epoch_switch(
        spark, corpus, tmp_path, monkeypatch):
    """A segment append committed between loading a query's postings
    and scoring them: the query answers exactly as the pre-append
    oracle. A later read under the old snapshot of a term the query
    never loaded raises, because the merge removed that epoch."""
    rows, mk = corpus
    qterms = set(tokenize(QUERY))
    base = rows[:200]
    delta = [r for r in rows[200:300] if qterms & set(tokenize(r[1]))]
    assert delta
    pre, post = build_oracle(base), build_oracle(base + delta)
    assert pre.topk(QUERY, 10) != post.topk(QUERY, 10)
    eng = BM25Engine(spark, str(tmp_path / "mq")).build(mk(base), **CFG)

    seen = []
    load = BM25Engine._load_term_arrays

    def load_then_append(self, *args):
        out = load(self, *args)
        if not seen:
            seen.append(args)
            merge_append(spark, eng.store.root, mk(delta))
        return out

    monkeypatch.setattr(BM25Engine, "_load_term_arrays", load_then_append)
    _assert_oracle(eng.topk(QUERY, 10), pre.topk(QUERY, 10))
    assert eng.store.epoch() == 1

    old_snap = seen[0][0]
    opened = {b for e, kind, b in eng._cache
              if e == old_snap.epoch and kind == "dir"}
    cold = next(t for t in sorted({t for _, text in base
                                   for t in tokenize(text)} - qterms)
                if bucket_of_term(t, CFG["n_buckets"]) not in opened)
    with pytest.raises(FileNotFoundError, match="epoch 0.*epoch 1"):
        load(eng, old_snap, [cold])

    # the next query moves to the new epoch on its own
    _assert_oracle(eng.topk(QUERY, 10), post.topk(QUERY, 10))


def test_plan_keeps_its_snapshot(spark, corpus, tmp_path, monkeypatch):
    """A segment append committed right after a distributed plan's df
    lookup: the plan raises naming both epochs, since the merge removed
    the epoch its df came from, instead of scoring the new epoch's
    postings with the old epoch's df."""
    rows, mk = corpus
    qterms = set(tokenize(QUERY))
    base = rows[:200]
    delta = [r for r in rows[200:300] if qterms & set(tokenize(r[1]))]
    assert delta
    eng = BM25Engine(spark, str(tmp_path / "pq")).build(mk(base), **CFG)
    assert eng.topk(QUERY, 10)  # warm: the manifest is read

    seen = []
    lookup = scoring.lookup_term_dfs

    def lookup_then_append(*args):
        out = lookup(*args)
        if not seen:
            seen.append(args)
            merge_append(spark, eng.store.root, mk(delta))
        return out

    monkeypatch.setattr(scoring, "lookup_term_dfs", lookup_then_append)
    with pytest.raises(FileNotFoundError, match="epoch 0.*epoch 1"):
        eng.query_batch([{"query_id": 0, "text": QUERY}], k=10).collect()
    assert seen and eng.store.epoch() == 1


@pytest.fixture(scope="module")
def meta_engine(spark, webtext_sf0001_path, tmp_path_factory):
    """An index with the positional sidecar and a crawl timestamp."""
    docs = (spark.read.parquet(webtext_sf0001_path)
            .select("url", "warc_ts", "text").limit(150))
    root = str(tmp_path_factory.mktemp("plans") / "idx")
    return BM25Engine(spark, root).build(docs, positions=True,
                                         meta_cols=("warc_ts",), **CFG)


def test_plans_do_not_read_the_manifest(spark, corpus, shards, meta_engine,
                                        monkeypatch):
    """Every distributed plan of a warm engine answers from the query's
    snapshot: building and running it reads manifest.json zero times,
    the budget fallbacks of the driver queries included."""
    rows, _ = corpus
    eng = meta_engine
    fed = FederatedEngine(spark, shards)
    batch = [{"query_id": 0, "text": QUERY}]
    phrase = " ".join(tokenize(rows[10][1])[:2])
    cand = eng.store.doc_stats(spark, 0).select("doc_id")
    synonyms = {"semudo": ["muro"]}
    calls = {
        "query_batch": lambda: eng.query_batch(batch, 10).collect(),
        "query_batch_wand": lambda: eng.query_batch_wand(batch, 10).collect(),
        "query_batch_wand(candidates)": lambda: eng.query_batch_wand(
            batch, 10, candidates=cand).collect(),
        "boolean_batch": lambda: eng.boolean_batch(
            [(0, "semudo OR muro")]).collect(),
        "phrase_batch": lambda: eng.phrase_batch([(0, phrase)], None,
                                                 k=5).collect(),
        "weighted_topk": lambda: eng.weighted_topk("semudo^2 muro", 10),
        "synonym_topk": lambda: eng.synonym_topk(QUERY, synonyms, 10),
        "federated": lambda: fed.topk(QUERY, 10),
        "collapsed_topk": lambda: eng.collapsed_topk(QUERY, 10).collect(),
        "recency_topk": lambda: eng.recency_topk(
            QUERY, 10, now="2030-01-01 00:00:00").collect(),
        "facet_counts": lambda: eng.facet_counts(QUERY).collect(),
    }
    for e in [eng] + fed.shards:
        monkeypatch.setattr(e, "driver_df_budget", -1)  # always fall back
    reads = []
    real_read = IndexStorage.read_manifest

    def counting_read(self):
        reads.append(self.root)
        return real_read(self)

    for name, fn in calls.items():
        assert fn(), name  # warm: the manifest is read
        reads.clear()
        n0 = eng.driver_fallbacks + sum(s.driver_fallbacks for s in fed.shards)
        with monkeypatch.context() as m:
            m.setattr(IndexStorage, "read_manifest", counting_read)
            fn()
        assert reads == [], name
        if name in ("weighted_topk", "synonym_topk", "federated"):
            assert (eng.driver_fallbacks
                    + sum(s.driver_fallbacks for s in fed.shards)) == n0 + 1


def test_wand_plan_masks_pending_deletes(spark, corpus, tmp_path,
                                         monkeypatch):
    """With pending tombstones the distributed WAND plan masks them
    itself, with and without candidates and on salted terms, and ranks
    exactly as the exhaustive plan, which it no longer falls back to."""
    rows, mk = corpus
    base = rows[:150]
    eng = BM25Engine(spark, str(tmp_path / "del")).build(
        mk(base), n_buckets=8, salt_df_threshold=30)
    dfs = {}
    for _, text in base:
        for t in set(tokenize(text)):
            dfs[t] = dfs.get(t, 0) + 1
    head = max(sorted(dfs), key=dfs.get)
    assert dfs[head] > 30  # a salted term: per-range WAND tasks
    batch = [{"query_id": 0, "text": QUERY},
             {"query_id": 1, "text": f"{head} muro"}]
    top = {r["doc_id"] for r in eng.query_batch(batch, k=2).collect()}
    urls = [u for u, _ in base if doc_id_for_url(u) in top]
    assert eng.delete_urls(urls) == len(top) > 1
    doc_id = F.col("doc_id")
    cand = (eng.store.doc_stats(spark, 0)
            .where((doc_id % 3 != 0) | doc_id.isin(list(top)))
            .select("doc_id"))

    def ranked(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in df.collect())

    exhaustive = [ranked(eng.query_batch(batch, 10, candidates=c))
                  for c in (None, cand)]
    fallbacks = []
    real = scoring.score_query_batch
    monkeypatch.setattr(scoring, "score_query_batch",
                        lambda *a, **kw: fallbacks.append(a) or real(*a, **kw))
    for c, want in zip((None, cand), exhaustive):
        got = ranked(eng.query_batch_wand(batch, 10, candidates=c))
        assert [g[:3] for g in got] == [w[:3] for w in want]
        assert all(abs(g[3] - w[3]) <= 1e-9 for g, w in zip(got, want))
        assert not top & {g[2] for g in got}
        assert {g[0] for g in got} == {0, 1}
    assert fallbacks == []


def test_one_manifest_stat_per_query(spark, corpus, shards, monkeypatch):
    rows, _ = corpus
    eng = BM25Engine(spark, shards[0])
    fed = FederatedEngine(spark, shards)
    phrase = " ".join(tokenize(rows[10][1])[:2])
    calls = {
        "topk": lambda: eng.topk(QUERY, 10),
        "weighted": lambda: eng.weighted_topk("semudo^2 muro gaku", 10),
        "phrase": lambda: eng.phrase_topk(phrase, k=5),
        "fuzzy": lambda: eng.fuzzy_topk("semudp muro", 10),
        "prefix": lambda: eng.prefix_topk("semu", k=10),
        "federated": lambda: fed.topk(QUERY, 10),
    }
    paths = [os.path.join(d, "manifest.json") for d in shards]
    stats = dict.fromkeys(paths, 0)
    real_stat = os.stat

    def counting_stat(path, *args, **kwargs):
        if isinstance(path, str) and path in stats:
            stats[path] += 1
        return real_stat(path, *args, **kwargs)

    for name, fn in calls.items():
        assert fn(), name  # warm: every later read is a cache hit
        stats.update(dict.fromkeys(paths, 0))
        with monkeypatch.context() as m:
            m.setattr(os, "stat", counting_stat)
            fn()
        want = [1, 1] if name == "federated" else [1, 0]
        assert [stats[p] for p in paths] == want, name


def test_cache_stays_within_its_byte_budget(spark, corpus, shards,
                                            monkeypatch):
    """A shrunken budget evicts across every kind of entry: the bytes
    held never exceed the budget plus the entry just inserted, and
    every result equals an engine whose cache never evicts."""
    rows, _ = corpus
    eng, ref = BM25Engine(spark, shards[0]), BM25Engine(spark, shards[0])
    cache = eng._cache
    # room for one postings row group (~110 KB here), the unit the
    # driver reads postings in, so every query evicts
    cache.budget = 200_000
    put = cache.put
    inserted = []

    def checked_put(key, value, nbytes=0):
        put(key, value, nbytes)
        newest = cache._entries[key][1]
        inserted.append(newest)
        assert cache.used <= cache.budget + newest
        assert cache.used == sum(n for _, n in cache._entries.values())

    monkeypatch.setattr(cache, "put", checked_put)
    vocab = sorted({t for _, text in rows[:150] for t in tokenize(text)})
    queries = [" ".join(vocab[i::37][:3]) for i in range(37)] + [QUERY]
    phrases = [" ".join(tokenize(text)[:2]) for _, text in rows[:20]]
    for _ in range(2):
        for q in queries:
            for method in ("vectorized", "wand"):
                assert (eng.topk(q, 10, method=method)
                        == ref.topk(q, 10, method=method)), (q, method)
        for p in phrases:
            assert eng.phrase_topk(p, k=5) == ref.phrase_topk(p, k=5), p
    assert sum(inserted) > 4 * cache.budget  # entries really were evicted
    assert {kind for _, kind, _ in cache} >= {"dec", "rg"}
