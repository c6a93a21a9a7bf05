#!/usr/bin/env python
"""spark-submit entry point: query a built BM25 index.

Usage:
  python scripts/query.py --index /path/to/index --query "hello world" [-k 10]
  python scripts/query.py --index /path/to/index --batch queries.json [--distributed]

Single queries use the driver fast path (pyarrow pruned read + block-max
WAND, no Spark job — the p50 latency path). --distributed runs the full
Spark scoring plan instead.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True,
                    help="index dir; a comma-separated list runs "
                         "federated global-stat BM25 over shard "
                         "indexes (plain --query only)")
    ap.add_argument("--query", help="single query text")
    ap.add_argument("--batch", help="JSON file: [{query_id, text, k}, ...]")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--distributed", action="store_true")
    ap.add_argument("--distributed-wand", action="store_true",
                    help="distributed block-max WAND (one task per query)")
    ap.add_argument("--no-wand", action="store_true",
                    help="score the cached decoded postings "
                         "(method='vectorized') instead of block-max WAND")
    ap.add_argument("--approx", type=float, default=1.0,
                    help="WAND threshold factor F (>1 = bounded-error early "
                         "termination; misses provably score < F * kth)")
    ap.add_argument("--boolean", action="store_true",
                    help="treat --query as a boolean expression "
                         "(left-assoc AND/OR/NOT over single tokens); "
                         "pure index, no corpus needed")
    ap.add_argument("--count", action="store_true",
                    help="ES _count: report the match-set size only "
                         "(no ranking); composes with --boolean")
    ap.add_argument("--rank-eval", default=None, metavar="QRELS",
                    help="with --batch: parquet of graded judgments "
                         "(query_id, doc_id, grade) — report per-query "
                         "precision/recall@k, MRR, nDCG@k instead of "
                         "hits (ES _rank_eval)")
    ap.add_argument("--fuzzy", action="store_true",
                    help="typo-tolerant: correct each term to its "
                         "nearest vocabulary term within --fuzzy-dist "
                         "edits (needs an index built with --vocab)")
    ap.add_argument("--fuzzy-dist", type=int, default=1,
                    help="fuzzy edit radius; 2 needs an index built "
                         "with --vocab-depth 2")
    ap.add_argument("--suggest", action="store_true",
                    help="treat --query as a PREFIX and return the "
                         "top-k vocabulary completions by df "
                         "(needs an index built with --vocab)")
    ap.add_argument("--phrase", action="store_true",
                    help="treat --query as an exact phrase (match-then-"
                         "verify: postings conjunction + adjacency check "
                         "against --docs); requires --docs")
    ap.add_argument("--span-near", action="store_true",
                    help="unordered proximity (Lucene SpanNear "
                         "inOrder=false): all --query terms within a "
                         "--slop-surplus window in ANY order; needs "
                         "an index built with --positions")
    ap.add_argument("--slop", type=int, default=0,
                    help="with --phrase: allow up to N extra tokens "
                         "between consecutive phrase terms")
    ap.add_argument("--docs", default=None,
                    help="source corpus parquet (url|doc_id, text) for "
                         "phrase verification — the index stores no text")
    ap.add_argument("--sort-by", default=None, metavar="COL",
                    help="ES sort clause: rank the match set by a "
                         "doc_stats key ('host', 'dl', or a meta_cols "
                         "column) instead of relevance")
    ap.add_argument("--sort-asc", action="store_true",
                    help="with --sort-by: ascending order")
    ap.add_argument("--facet", default=None,
                    help="facet the query's FULL match set by this "
                         "doc_stats column ('host', or any --meta-cols "
                         "column); returns (facet, n_docs) counts")
    ap.add_argument("--facet-granularity", default=None,
                    help="with --facet on a timestamp column: "
                         "date_trunc bucket (year..hour) — a "
                         "date histogram")
    ap.add_argument("--facet-stats", default=None, metavar="VAL_COL",
                    help="with --facet: per-bucket numeric stats "
                         "(n/min/max/avg/sum) of this doc_stats "
                         "column over the match set instead of "
                         "plain counts ('dl', or a numeric "
                         "--meta-cols column)")
    ap.add_argument("--after", default=None,
                    help="search_after cursor 'doc_id,score' (the last "
                         "hit of the previous page): return the next "
                         "-k hits strictly after it")
    ap.add_argument("--msm", type=int, default=1,
                    help="minimum_should_match: drop docs matching "
                         "fewer than N distinct query terms; also "
                         "enables Lucene-style term^2.5 boost syntax "
                         "in --query (boosts alone work with --msm 1)")
    ap.add_argument("--mlt", action="store_true",
                    help="more-like-this: treat --query as a source "
                         "doc url, retrieve docs similar to it by its "
                         "top tf-idf terms; requires --docs")
    ap.add_argument("--mlt-terms", type=int, default=10,
                    help="with --mlt: number of source terms to use")
    ap.add_argument("--where", default=None,
                    help="Qdrant-style dict filter as JSON (reference "
                         "query-API parity); filters --meta if given, "
                         "else the index's own doc_stats (--meta-cols)")
    ap.add_argument("--meta", default=None,
                    help="parquet of doc metadata with a doc_id column "
                         "(optional filter target table)")
    ap.add_argument("--rescore", type=int, default=None, metavar="WINDOW",
                    help="two-stage proximity rescore: re-rank the "
                         "BM25 top-WINDOW with a min-cover-span bonus "
                         "from the positions sidecar (--positions at "
                         "build time)")
    ap.add_argument("--rescore-weight", type=float, default=1.0)
    ap.add_argument("--explain", action="store_true",
                    help="return the per-term BM25 breakdown (tf, dl, "
                         "df, idf, contrib) of every top-k hit")
    ap.add_argument("--collapse", default=None,
                    help="field collapse: at most one (best) hit per "
                         "value of this doc_stats column ('host' or a "
                         "--meta-cols column)")
    ap.add_argument("--recency-now", default=None,
                    help="recency-decayed ranking: ISO timestamp to "
                         "age against (needs a timestamp --meta-cols "
                         "column, --recency-col)")
    ap.add_argument("--recency-col", default="warc_ts")
    ap.add_argument("--half-life", type=float, default=30.0,
                    help="recency decay half-life in days")
    ap.add_argument("--wildcard", action="store_true",
                    help="treat --query as a wildcard pattern "
                         "('s*m'; needs an index built with --vocab)")
    ap.add_argument("--qs", action="store_true",
                    help="treat --query as Lucene query-string syntax "
                         "(parens, AND/OR/NOT, \"phrase\"~slop, "
                         "term^boost, pre*, term~dist); prefix/fuzzy "
                         "need --vocab, phrases need --positions or "
                         "--docs")
    ap.add_argument("--max-expansions", type=int, default=50,
                    help="with --qs: df-capped prefix/fuzzy expansion "
                         "limit (Lucene MultiTermQuery rewrite)")
    ap.add_argument("--synonyms", default=None,
                    help='JSON synonym map {"term": ["alt", ...]}: '
                         "Lucene SynonymQuery blending (member tfs "
                         "sum, group idf = max member df)")
    ap.add_argument("--significant", action="store_true",
                    help="significant-terms aggregation over the "
                         "match set (JLH score); requires --docs")
    ap.add_argument("--sample-size", type=int, default=100,
                    help="with --significant: hits sampled for the "
                         "foreground counts")
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from super_rag_spark.query.engine import BM25Engine

    spark = (SparkSession.builder.master(args.master)
             .appName("super-rag-spark-query")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.task.maxFailures", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    if "," in args.index:
        from super_rag_spark.query.federated import FederatedEngine

        fed = FederatedEngine(
            spark, [d.strip() for d in args.index.split(",") if d.strip()])
        if args.query is None or any((args.boolean, args.phrase,
                                      args.fuzzy, args.suggest, args.mlt,
                                      args.where, args.after)):
            ap.error("a federated (comma-separated) --index supports "
                     "plain --query only")
        t0 = time.time()
        hits = fed.topk(args.query, args.k)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query,
                          "shards": len(fed.shards),
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
        spark.stop()
        return 0
    eng = BM25Engine(spark, args.index)

    if args.query is not None and args.count:
        t0 = time.time()
        n = eng.match_count(args.query, boolean=args.boolean)
        print(json.dumps({"query": args.query, "boolean": args.boolean,
                          "count": n,
                          "elapsed_sec": round(time.time() - t0, 3)}))
    elif args.query is not None and args.qs and not args.where:
        t0 = time.time()
        hits = eng.query_string_topk(
            args.query, k=args.k,
            docs_df=spark.read.parquet(args.docs) if args.docs else None,
            max_expansions=args.max_expansions)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query_string": args.query,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.boolean and not args.sort_by:
        t0 = time.time()
        hits = eng.boolean_topk(args.query, k=args.k)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"boolean": args.query, "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.span_near:
        t0 = time.time()
        hits = eng.span_near_topk(args.query, k=args.k, slop=args.slop)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"span_near": args.query, "slop": args.slop,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.phrase:
        if not args.docs and not eng.store.has_positions():
            ap.error("--phrase requires --docs (or an index built with"
                     " --positions for the index-only path)")
        t0 = time.time()
        hits = eng.phrase_topk(
            args.query,
            spark.read.parquet(args.docs) if args.docs else None,
            k=args.k, slop=args.slop)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"phrase": args.query, "slop": args.slop,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.where is not None:
        # --meta optional since r5: without it the filter runs against
        # the index's own doc_stats (build with --meta-cols)
        t0 = time.time()
        rows = eng.search(args.query, k=args.k,
                          docs_meta=(spark.read.parquet(args.meta)
                                     if args.meta else None),
                          where=json.loads(args.where),
                          qs=args.qs).collect()
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "where": json.loads(args.where),
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": r["rank"], "doc_id": r["doc_id"],
                                    "score": round(r["score"], 6)}
                                   for r in rows]}))
    elif args.query is not None and args.sort_by:
        t0 = time.time()
        rows = eng.sorted_topk(args.query, by=args.sort_by, k=args.k,
                               ascending=args.sort_asc,
                               boolean=args.boolean).collect()
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "sort_by": args.sort_by,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": r["rank"], "url": r["url"],
                                    "sort_value": str(r["sort_value"])}
                                   for r in rows]}))
    elif args.query is not None and args.facet:
        t0 = time.time()
        if args.facet_stats:
            rows = eng.facet_stats(
                args.query, args.facet_stats, by=args.facet,
                granularity=args.facet_granularity).collect()
            ms = (time.time() - t0) * 1e3
            print(json.dumps({
                "query": args.query, "facet": args.facet,
                "val_col": args.facet_stats, "latency_ms": round(ms, 2),
                "buckets": [{"facet": str(r["facet"]),
                             "n_docs": r["n_docs"],
                             "min": r["min_v"], "max": r["max_v"],
                             "avg": round(r["avg_v"], 6),
                             "sum": r["sum_v"]} for r in rows]}))
        else:
            rows = eng.facet_counts(
                args.query, by=args.facet,
                granularity=args.facet_granularity).collect()
            ms = (time.time() - t0) * 1e3
            print(json.dumps({"query": args.query, "facet": args.facet,
                              "latency_ms": round(ms, 2),
                              "buckets": [{"facet": str(r["facet"]),
                                           "n_docs": r["n_docs"]}
                                          for r in rows]}))
    elif args.query is not None and args.suggest:
        t0 = time.time()
        comps = eng.suggest(args.query, args.k)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"suggest": args.query, "latency_ms": round(ms, 2),
                          "completions": [{"term": t, "df": d}
                                          for t, d in comps]}))
    elif args.query is not None and args.fuzzy:
        t0 = time.time()
        hits = eng.fuzzy_topk(args.query, args.k, max_dist=args.fuzzy_dist)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"fuzzy": args.query, "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d, "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.mlt:
        if not args.docs:
            ap.error("--mlt requires --docs (the source corpus)")
        t0 = time.time()
        hits = eng.more_like_this(spark.read.parquet(args.docs),
                                  url=args.query, k=args.k,
                                  max_terms=args.mlt_terms)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"mlt": args.query, "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and (args.msm > 1 or "^" in args.query):
        t0 = time.time()
        hits = eng.weighted_topk(args.query, args.k, msm=args.msm)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "msm": args.msm,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.after is not None:
        d, s = args.after.split(",")
        t0 = time.time()
        hits = eng.topk_after(args.query, args.k, after=(int(d), float(s)))
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "after": args.after,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d, "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.rescore:
        t0 = time.time()
        hits = eng.rescore_topk(args.query, args.k, window=args.rescore,
                                weight=args.rescore_weight)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "rescore": args.rescore,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.explain:
        t0 = time.time()
        rows = eng.explain_topk(args.query, args.k)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"explain": args.query, "latency_ms": round(ms, 2),
                          "rows": [{**r, "idf": round(r["idf"], 6),
                                    "contrib": round(r["contrib"], 6),
                                    "score": round(r["score"], 6)}
                                   for r in rows]}))
    elif args.query is not None and args.collapse:
        t0 = time.time()
        rows = eng.collapsed_topk(args.query, k=args.k,
                                  by=args.collapse).collect()
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "collapse": args.collapse,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": r["rank"], "key": str(r["key"]),
                                    "doc_id": r["doc_id"],
                                    "score": round(r["score"], 6)}
                                   for r in rows]}))
    elif args.query is not None and args.recency_now:
        t0 = time.time()
        rows = eng.recency_topk(args.query, k=args.k,
                                ts_col=args.recency_col,
                                now=args.recency_now,
                                half_life_days=args.half_life).collect()
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "now": args.recency_now,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": r["rank"], "doc_id": r["doc_id"],
                                    "score": round(r["score"], 6),
                                    "decayed": round(r["decayed"], 6)}
                                   for r in rows]}))
    elif args.query is not None and args.wildcard:
        t0 = time.time()
        hits = eng.wildcard_topk(args.query, args.k)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"wildcard": args.query, "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.synonyms:
        t0 = time.time()
        hits = eng.synonym_topk(args.query, json.loads(args.synonyms),
                                k=args.k)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "synonyms": args.synonyms,
                          "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d,
                                    "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.query is not None and args.significant:
        if not args.docs:
            ap.error("--significant requires --docs (the source corpus)")
        t0 = time.time()
        rows = eng.significant_terms(
            args.query, spark.read.parquet(args.docs), top=args.k,
            sample_size=args.sample_size).collect()
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "latency_ms": round(ms, 2),
                          "terms": [{"term": r["term"],
                                     "fg_count": r["fg_count"],
                                     "df": r["df"],
                                     "score": round(r["score"], 6)}
                                    for r in rows]}))
    elif args.query is not None:
        t0 = time.time()
        hits = eng.topk(args.query, args.k,
                        method="vectorized" if args.no_wand else "wand",
                        approx=args.approx)
        ms = (time.time() - t0) * 1e3
        print(json.dumps({"query": args.query, "latency_ms": round(ms, 2),
                          "hits": [{"rank": i + 1, "doc_id": d, "score": round(s, 6)}
                                   for i, (d, s) in enumerate(hits)]}))
    elif args.batch and args.rank_eval:
        with open(args.batch) as f:
            queries = json.load(f)
        qrels = spark.read.parquet(args.rank_eval)
        t0 = time.time()
        rows = eng.rank_eval(queries, qrels, k=args.k).collect()
        print(json.dumps({
            "n_queries": len(queries), "k": args.k,
            "elapsed_sec": round(time.time() - t0, 3),
            "metrics": [{c: r[c] for c in
                         ("query_id", "precision_k", "recall_k",
                          "mrr", "ndcg_k")}
                        for r in sorted(rows,
                                        key=lambda r: r["query_id"])]}))
    elif args.batch:
        with open(args.batch) as f:
            queries = json.load(f)
        t0 = time.time()
        if args.distributed or args.distributed_wand:
            method = eng.query_batch_wand if args.distributed_wand else eng.query_batch
            rows = method(queries, k=args.k).collect()
            out = [dict(query_id=r["query_id"], rank=r["rank"],
                        doc_id=r["doc_id"], score=round(r["score"], 6)) for r in rows]
        else:
            out = []
            for q in queries:
                for i, (d, s) in enumerate(eng.topk(q["text"], q.get("k", args.k))):
                    out.append(dict(query_id=q["query_id"], rank=i + 1,
                                    doc_id=d, score=round(s, 6)))
        sec = time.time() - t0
        print(json.dumps({"n_queries": len(queries), "elapsed_sec": round(sec, 3),
                          "qps": round(len(queries) / sec, 1), "results": len(out)}))
    else:
        ap.error("need --query or --batch")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
