"""One snapshot per query and one epoch-keyed cache (query/engine.py):
- a merge that commits mid-query does not mix two epochs into one answer;
- a warm driver query stats manifest.json once per engine or shard;
- the cache stays within its byte budget without changing any result.
"""

import os

import pytest

from super_rag_spark.analysis import tokenize
from super_rag_spark.index.merge import merge_append
from super_rag_spark.index.storage import bucket_of_term
from super_rag_spark.oracle import build_oracle
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
            merge_append(spark, eng.store.root, mk(delta), mode="segment")
        return out

    monkeypatch.setattr(BM25Engine, "_load_term_arrays", load_then_append)
    _assert_oracle(eng.topk(QUERY, 10), pre.topk(QUERY, 10))
    assert eng.store.epoch() == 1

    old_snap = seen[0][0]
    opened = {b for e, table, b in eng._cache
              if e == old_snap.epoch and table == "postings"}
    cold = next(t for t in sorted({t for _, text in base
                                   for t in tokenize(text)} - qterms)
                if bucket_of_term(t, CFG["n_buckets"]) not in opened)
    with pytest.raises(FileNotFoundError, match="epoch 0.*epoch 1"):
        load(eng, old_snap, [cold])

    # the next query moves to the new epoch on its own
    _assert_oracle(eng.topk(QUERY, 10), post.topk(QUERY, 10))


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
    cache.budget = 16_000
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
    assert {kind for _, kind, _ in cache} >= {"dec", "blk"}
