"""Federated search over index shards (r5): global-stat BM25 across
disjoint shard indexes must be EXACTLY the single combined index's
ranking — shard layout is a serving topology, never a semantics
change."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sharded(spark, webtext_sf0001_path, tmp_path_factory):
    from super_rag_spark.query.engine import BM25Engine

    base = tmp_path_factory.mktemp("fed")
    df = spark.read.parquet(webtext_sf0001_path)
    split = F.abs(F.xxhash64("url")) % 2
    shard_dirs = []
    for i in (0, 1):
        d = str(base / f"shard{i}")
        BM25Engine(spark, d).build(
            df.where(split == i), text_is_extracted=False,
            salt_df_threshold=200, n_buckets=8)
        shard_dirs.append(d)
    combined_dir = str(base / "combined")
    combined = BM25Engine(spark, combined_dir).build(
        df, text_is_extracted=False, salt_df_threshold=200, n_buckets=8)
    return shard_dirs, combined


def test_federated_equals_combined(spark, sharded):
    from super_rag_spark.query.federated import FederatedEngine

    shard_dirs, combined = sharded
    fed = FederatedEngine(spark, shard_dirs)
    n, avgdl = fed.global_stats()
    m = combined.manifest
    assert n == int(m["n_docs"])
    assert abs(avgdl - float(m["avgdl"])) < 1e-9
    for q in ("semudo muro", "fuboname", "semudo vubo muro baseco"):
        assert fed.topk(q, k=20) == combined.topk(q, k=20)
    assert fed.topk("zzznotaterm") == []


def test_federated_distributed_equals_driver(spark, sharded):
    from super_rag_spark.query.federated import (FederatedEngine,
                                                 score_federated_batch)

    shard_dirs, combined = sharded
    fed = FederatedEngine(spark, shard_dirs)
    q = "semudo muro"
    driver = fed.topk(q, k=10)
    res = score_federated_batch(
        spark, [s._snapshot() for s in fed.shards],
        [{"query_id": 0, "text": q}], k=10)
    dist = [(int(r["doc_id"]), float(r["score"]))
            for r in res.orderBy("rank").collect()]
    assert [d for d, _ in driver] == [d for d, _ in dist]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(driver, dist))


def test_federated_budget_fallback_matches(spark, sharded):
    shard_dirs, combined = sharded
    from super_rag_spark.query.federated import FederatedEngine

    fed = FederatedEngine(spark, shard_dirs)
    q = "semudo muro"
    want = fed.topk(q, k=10)
    for s in fed.shards:
        s.driver_df_budget = 0
        s._cache.clear()
    got = fed.topk(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert sum(s.driver_fallbacks for s in fed.shards) == 1


def test_federated_rejects_mismatched_shards(spark, tmp_path):
    from super_rag_spark.query.engine import BM25Engine
    from super_rag_spark.query.federated import FederatedEngine

    a = spark.createDataFrame(
        [("https://a.example/1", "alpha beta", "t")],
        "url string, text string, title string")
    d1, d2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    BM25Engine(spark, d1).build(a, text_is_extracted=True)
    BM25Engine(spark, d2).build(a, text_is_extracted=True, title_weight=2)
    with pytest.raises(ValueError, match="title_weight"):
        FederatedEngine(spark, [d1, d2])
    with pytest.raises(ValueError, match="at least one"):
        FederatedEngine(spark, [])
