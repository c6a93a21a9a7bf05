"""Federated search over index SHARDS with global statistics.

The serving topology of a 100 TB corpus is never one index: the corpus
is partitioned (by crawl slice, by hash) into independently built and
merged shard indexes, and a query fans out. The reference reaches the
same topology through its vector-DB's own sharding
(/root/reference/vectordbs/qdrant.py — the DB hides it); here it is
explicit and exact: BM25 scores use CORPUS-WIDE n_docs / avgdl / df —
n_docs and total tokens sum across shards, df(t) sums across shards —
so federated ranking is bit-identical to one combined index over the
union (asserted in tests). Shards must partition the doc space
(disjoint urls): a doc indexed in two shards would sum its own
contributions twice.

Driver path: one snapshot per shard, per-shard decoded postings (each
shard's cache works unchanged) concatenated per term, scored once with
the global stats.
Distributed path (score_federated_batch): per-shard pruned postings
scans UNION into one decode -> broadcast-join -> aggregate plan — the
same ONE-shuffle shape as scoring.score_query_batch, with the shard
fan-out folded into the scan union (Spark unions of parquet scans
stay separate input stages; no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analysis import tokenize
from .engine import BM25Engine
from .scoring import (DECODED_SCHEMA, contribution_expr,
                      decode_postings_map_in_pandas, lookup_term_dfs,
                      pruned_postings, with_df_idf)

#: manifest keys that must agree across shards for global scoring to
#: be meaningful (analyzer and scoring constants)
_COMPAT_KEYS = ("k1", "b", "tokenizer", "title_weight", "version")


class FederatedEngine:
    """Exact BM25 over a list of shard index dirs (global statistics)."""

    def __init__(self, spark: SparkSession, index_dirs: list[str]):
        if not index_dirs:
            raise ValueError("need at least one shard index dir")
        self.spark = spark
        self.shards = [BM25Engine(spark, d) for d in index_dirs]
        head = self.shards[0].manifest
        for s in self.shards[1:]:
            m = s.manifest
            bad = [k for k in _COMPAT_KEYS
                   if m.get(k) != head.get(k)]
            if bad:
                raise ValueError(
                    f"shard {s.store.root} differs from "
                    f"{self.shards[0].store.root} on {bad} — global "
                    f"stats need one analyzer/scoring config")

    # ------------------------------------------------------ global stats
    def global_stats(self) -> tuple[int, float]:
        """(n_docs, avgdl) over all shards: counts sum; avgdl is the
        token-weighted mean (sum of dl sums / sum of doc counts)."""
        return _global_stats([s.manifest for s in self.shards])

    # ---------------------------------------------------------- driver
    def topk(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        """Driver fast path: per-shard decoded arrays merged per term,
        scored ONCE with global (n_docs, avgdl, summed df), all from one
        snapshot per shard. Each shard's own cache serves repeats.
        Budget: the per-shard
        uncached-df gate applies per shard — if ANY shard's terms
        exceed its driver budget, the whole query routes to the
        distributed plan."""
        import numpy as np

        from .wand import vectorized_topk_arrays

        terms = sorted(set(tokenize(query)))
        if not terms:
            return []
        snaps = [s._snapshot() for s in self.shards]
        if any(s._uncached_df_total(snap, terms) > s.driver_df_budget
               for s, snap in zip(self.shards, snaps)):
            res = score_federated_batch(
                self.spark, self.shards, [{"query_id": 0, "text": query}],
                k=k)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        merged: dict[str, list] = {}
        for s, snap in zip(self.shards, snaps):
            for t, (df_t, docs, tfs, dls) in s._load_term_arrays(
                    snap, terms).items():
                merged.setdefault(t, [0, [], [], []])
                merged[t][0] += int(df_t)
                merged[t][1].append(docs)
                merged[t][2].append(tfs)
                merged[t][3].append(dls)
        if not merged:
            return []
        term_arrays = {
            t: (df_t, np.concatenate(d), np.concatenate(tf),
                np.concatenate(dl))
            for t, (df_t, d, tf, dl) in merged.items()}
        n_docs, avgdl = _global_stats([snap.manifest for snap in snaps])
        # shards partition the doc space: their pending deletes union
        deleted = np.unique(np.concatenate([snap.deleted for snap in snaps]))
        return vectorized_topk_arrays(
            term_arrays, n_docs, avgdl, k,
            k1=snaps[0].k1, b=snaps[0].b, deleted=deleted)


def _global_stats(manifests: list[dict]) -> tuple[int, float]:
    """(n_docs, avgdl) over the shards' manifests (see global_stats)."""
    n = tot = 0
    for m in manifests:
        n += int(m["n_docs"])
        tot += int(round(float(m["avgdl"]) * int(m["n_docs"])))
    return n, (tot / n if n else 0.0)


def score_federated_batch(spark: SparkSession, shards: list[BM25Engine],
                          queries: list[dict], k: int = 10) -> DataFrame:
    """Distributed federated scoring: shard scans union below ONE
    decode -> broadcast qterms join -> per-(query, doc) aggregate ->
    per-query top-k — the score_query_batch plan with the shard
    fan-out in the scan layer and GLOBAL df on the broadcast side."""
    from .scoring import analyze_queries

    manifests = [s.manifest for s in shards]
    k1, b = float(manifests[0]["k1"]), float(manifests[0]["b"])
    n_docs, avgdl = _global_stats(manifests)

    out_schema = "query_id int, rank int, doc_id long, score double"
    qterms_pdf = analyze_queries(queries)
    if qterms_pdf.empty:
        return spark.createDataFrame([], out_schema)
    term_ids = sorted(qterms_pdf["term_id"].unique().tolist())

    # global df: per-shard term_stats metadata reads, summed
    gdf: dict[int, int] = {}
    for s, m in zip(shards, manifests):
        for tid, d in lookup_term_dfs(
                s.store, term_ids, int(m["n_buckets"]),
                int(m["epoch"])).items():
            gdf[tid] = gdf.get(tid, 0) + int(d)
    qterms_pdf = with_df_idf(qterms_pdf, gdf, n_docs)
    if qterms_pdf.empty:
        return spark.createDataFrame([], out_schema)
    qterms = spark.createDataFrame(qterms_pdf)
    term_ids = sorted(qterms_pdf["term_id"].unique().tolist())

    decoded = None
    for s, m in zip(shards, manifests):
        part = pruned_postings(
            spark, s.store, term_ids,
            int(m["n_buckets"])).mapInPandas(
                decode_postings_map_in_pandas, schema=DECODED_SCHEMA)
        tomb = s.store.tombstones(spark)
        if tomb is not None:
            part = part.join(F.broadcast(tomb), "doc_id", "left_anti")
        decoded = part if decoded is None else decoded.unionByName(part)

    contribs = (
        decoded.join(F.broadcast(qterms), "term_id")
        .withColumn("contrib",
                    contribution_expr(avgdl, k1, b) * F.col("weight"))
    )
    scored = (
        contribs.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list(
            F.struct("term", "contrib"))).alias("parts"))
        .withColumn("score", F.aggregate(
            "parts", F.lit(0.0), lambda acc, x: acc + x["contrib"]))
        .drop("parts")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))
