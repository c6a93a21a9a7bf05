"""Phrase / proximity search: match-then-verify, Spark-first.

The reference's retrieval is bag-of-words dense top-k (no positional
queries, /root/reference/service/query.py); a fulltext engine needs
phrase match. Rather than widening the posting format with positions
(2-3x index size for a minority query type — the classic trade), this
implements the match-then-verify strategy production engines use for
rare phrase queries over non-positional indexes:

  1. CANDIDATES — conjunctive pruning: only documents containing ALL of
     the phrase's terms (a groupBy/HAVING over the tf relation; against
     the inverted index this is the same bucket-pruned posting
     intersection the WAND path does, so the candidate step never
     touches more than the phrase terms' postings).
  2. VERIFY — tokenization-exact adjacency: the document's token stream
     joined by single spaces (tokens are [a-z0-9]+, so ' ' is an
     unambiguous separator) must contain ' t1 t2 ... tn ' — or, with
     ``slop=s``, match the regex ' t1( [a-z0-9]+){0,s} t2 ...' (each
     gap admits at most s intervening tokens). Runs ONLY on the pruned
     candidates, JVM-side (contains / regexp_like — no UDF).
  3. RANK — BM25 over the phrase's distinct terms, restricted to the
     verified documents; corpus stats (n_docs, avgdl, df) stay GLOBAL,
     mirroring the filtered-search (P7) semantics.

At 100 TB: step 1 is the only stage that scans an un-pruned relation,
and it is an aggregate over the phrase terms' tf rows only (broadcast
term list, one shuffle on doc_id); steps 2-3 touch candidates only.

Scores are deterministic: per-(query, doc) contributions are collected,
sorted, and summed in term order (same device as contract._bm25_scored),
so result hashes are stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import analysis

_TOKEN_RE = "[a-z0-9]+"


def phrase_pattern(terms: list[str], slop: int = 0) -> str:
    """The verify pattern for a tokenized phrase.

    slop=0: a literal ' t1 t2 ... tn ' substring (no regex at all).
    slop>0: a regex where each inter-term gap admits 0..slop extra
    tokens. Anchored by the surrounding spaces of the padded token
    stream, it is valid (and identical) under both Java regex and RE2 —
    the subset used is alternation-free concatenation + bounded repeat.
    """
    if slop == 0:
        return " " + " ".join(terms) + " "
    gap = f"( {_TOKEN_RE}){{0,{slop}}}"
    return " " + f"{gap} ".join(terms) + " "


def joined_tokens_expr(text_col: str = "text"):
    """' t1 t2 ... tn ' — the space-padded token stream of a document
    (pure Catalyst: lower/split/filter/array_join/concat)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )
    return F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))


def plan_barrier(col):
    """Identity wrapper that pins an expensive projection ABOVE its
    candidate semi-join (r5).

    Reordering the join below the joined-tokens projection is not
    enough: Catalyst's predicate pushdown SUBSTITUTES project aliases
    into filters (and InferFiltersFromConstraints derives an
    isnotnull(<whole chain>) from any matcher that references the
    alias), then pushes the rebuilt filter below the join — and the
    tokenize chain is back to running once per CORPUS row. Wrapping
    the projection in an always-true nondeterministic branch makes the
    Project non-substitutable — Spark refuses to push any predicate
    through a projection with nondeterministic fields. The guard is
    spark_partition_id() >= 0 (always true, costs one int read per
    surviving row): rand()-based guards don't survive — Spark 4.1's
    optimizer folds comparisons against rand's [0,1) bounds and erases
    the branch. The value is bit-identical; plan shape is asserted in
    tests/test_phrase.py."""
    return F.when(F.spark_partition_id() >= F.lit(0), col)


def score_phrase_batch(spark, store, docs_df: DataFrame | None,
                       phrases: list[tuple[int, str]], k: int = 10,
                       slop: int = 0, match_fn=None) -> DataFrame:
    """Index-backed DISTRIBUTED phrase search (r4): candidates come from
    the INVERTED INDEX, not a corpus re-tokenize.

      pruned postings scan -> mapInPandas block decode
        -> broadcast join with the phrases' (query, term, df) rows
        -> groupBy(query_id, doc_id): n_hit + sorted BM25 parts [1 shuffle]
        -> conjunctive gate (n_hit == n_terms)     = the candidate set
        -> adjacency / slop verify: against docs_df (match-then-verify,
           the ONLY corpus touch — candidates semi-join into the scan,
           JVM string ops, no UDF), or with ``docs_df=None`` against the
           POSITIONAL SIDECAR (r4, index/positions.py): pruned position
           blocks decode distributed and candidates chain-match
           per (query, doc) — fully index-only
        -> score = term-ascending sum over parts, top-k window.

    ``docs_df``: the source-of-truth corpus with (url|doc_id, text),
    or None to use the positional sidecar (must exist for the current
    epoch). Ranking matches phrase_topk / engine.phrase_topk exactly
    (global corpus stats, phrase terms only; tests assert)."""
    import pandas as pd

    from ..analysis import term_id_for
    from ..index.build import doc_id_expr
    from .scoring import (DECODED_SCHEMA, contribution_expr,
                          decode_postings_map_in_pandas, lookup_term_dfs,
                          pruned_postings, with_df_idf)

    out_schema = "query_id int, rank int, doc_id long, score double"
    manifest = store.read_manifest()
    n_docs, avgdl = int(manifest["n_docs"]), float(manifest["avgdl"])
    k1, b = float(manifest["k1"]), float(manifest["b"])
    n_buckets = int(manifest["n_buckets"])

    qrows, prows = [], []
    for qid, phrase in phrases:
        terms = analysis.tokenize(phrase)
        if not terms:
            continue
        uts = sorted(set(terms))
        for t in uts:
            qrows.append({"query_id": qid, "term": t,
                          "term_id": term_id_for(t)})
        prows.append((qid, phrase_pattern(terms, slop), len(uts)))
    if not qrows:
        return spark.createDataFrame([], out_schema)
    qpdf = pd.DataFrame(qrows)
    term_ids = sorted(qpdf["term_id"].unique().tolist())
    dfs = lookup_term_dfs(store, term_ids, n_buckets, int(manifest["epoch"]))
    # an OOV phrase term can never satisfy n_hit == n_terms; dropping its
    # row keeps the conjunctive gate correct with no special case
    qpdf = with_df_idf(qpdf, dfs, n_docs)
    if qpdf.empty:
        return spark.createDataFrame([], out_schema)
    qterms = spark.createDataFrame(qpdf)
    pats = spark.createDataFrame(prows, "query_id int, pat string, n_terms int")
    term_ids = sorted(qpdf["term_id"].unique().tolist())

    decoded = pruned_postings(spark, store, term_ids, n_buckets).mapInPandas(
        decode_postings_map_in_pandas, schema=DECODED_SCHEMA)
    tomb = store.tombstones(spark)
    if tomb is not None:
        decoded = decoded.join(F.broadcast(tomb), "doc_id", "left_anti")

    cand = (
        decoded.join(F.broadcast(qterms), "term_id")
        .withColumn("contrib", contribution_expr(avgdl, k1, b))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"),
             F.sort_array(F.collect_list(
                 F.struct("term", "contrib"))).alias("parts"))
        .join(F.broadcast(pats.select("query_id", "n_terms")), "query_id")
        .where(F.col("n_hit") == F.col("n_terms"))
    )

    if docs_df is None:
        verified = _verified_by_positions(spark, store, phrases, cand,
                                          qpdf, slop, match_fn=match_fn)
    else:
        if match_fn is not None:
            raise ValueError(
                "match_fn verification needs the positional sidecar —"
                " the corpus path verifies with the phrase regex only")
        src = docs_df
        if "doc_id" not in src.columns:
            src = src.withColumn("doc_id", doc_id_expr("url"))
        # candidate semi-join FIRST, tokenize the survivors only (r5,
        # VERDICT r4 #1): the joined-tokens projection is the expensive
        # corpus touch — built above the join it runs on candidate rows
        # only; built below it (the r4 shape) Catalyst evaluated the
        # lower/split/filter/array_join chain for EVERY corpus row
        # before the join probe rejected it. AQE broadcasts the (tiny)
        # candidate id set at runtime, so the corpus scan streams with
        # no shuffle. Plan asserted in tests/test_phrase.py.
        cand_ids = cand.select("doc_id").distinct()
        jt = (src.join(cand_ids, "doc_id", "left_semi")
              .select("doc_id",
                      plan_barrier(joined_tokens_expr("text")).alias("jt")))
        matcher = (F.col("jt").contains(F.col("pat")) if slop == 0
                   else F.expr("rlike(jt, pat)"))
        verified = (
            cand.select("query_id", "doc_id")
            .join(jt, "doc_id")
            .join(F.broadcast(pats.select("query_id", "pat")), "query_id")
            .where(matcher)
            .select("query_id", "doc_id")
        )

    scored = (
        cand.join(verified, ["query_id", "doc_id"], "left_semi")
        .withColumn("score", F.aggregate(
            "parts", F.lit(0.0), lambda a, x: a + x["contrib"]))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 9).desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _verified_by_positions(spark, store, phrases, cand: DataFrame,
                           qpdf, slop: int,
                           match_fn=None) -> DataFrame:
    """Distributed index-only verify (r4): the candidates' position
    runs decode from the positional sidecar (bucket + term_id pruned),
    group per (query, doc), and chain-match against each phrase's
    ordered term sequence. Returns (query_id, doc_id) survivors.

    ``match_fn(pos_lists, slop) -> bool`` overrides the acceptance
    test (default positions.chain_match — ordered phrase); spans pass
    positions.span_match for the unordered SpanNear semantics (r5)."""
    from ..index.positions import (DECODED_POSITIONS_SCHEMA, chain_match,
                                   decode_positions_map_in_pandas)

    if match_fn is None:
        match_fn = chain_match
    from ..index.storage import POSITIONS_SCHEMA, bucket_of_term_id

    manifest = store.read_manifest()
    epoch = int(manifest["epoch"])
    n_buckets = int(manifest["n_buckets"])
    if not store.has_positions(epoch):
        raise ValueError(
            "positional sidecar absent for the current epoch — run"
            " build_positions, or pass docs_df for match-then-verify")
    term_ids = sorted(qpdf["term_id"].unique().tolist())
    buckets = sorted({bucket_of_term_id(t, n_buckets) for t in term_ids})
    blocks = (spark.read.schema(POSITIONS_SCHEMA)
              .parquet(store.positions_dir_for(epoch))
              .where(F.col("bucket").isin(buckets))
              .where(F.col("term_id").isin(term_ids)))
    decoded = blocks.mapInPandas(decode_positions_map_in_pandas,
                                 schema=DECODED_POSITIONS_SCHEMA)
    qterms = spark.createDataFrame(qpdf[["query_id", "term", "term_id"]])
    seqs = spark.createDataFrame(
        [(qid, analysis.tokenize(p)) for qid, p in phrases
         if analysis.tokenize(p)],
        "query_id int, phrase_terms array<string>")
    tp = (decoded.join(F.broadcast(qterms), "term_id")
          .join(cand.select("query_id", "doc_id"),
                ["query_id", "doc_id"], "left_semi")
          .groupBy("query_id", "doc_id")
          .agg(F.collect_list(F.struct("term", "positions")).alias("tp"))
          .join(F.broadcast(seqs), "query_id"))

    def verify(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            keep_q, keep_d = [], []
            for row in pdf.itertuples(index=False):
                got = {}
                for e in row.tp:
                    t, p = ((e["term"], e["positions"])
                            if isinstance(e, dict) else (e[0], e[1]))
                    got[t] = np.asarray(p, dtype=np.int64)
                try:
                    pls = [got[t] for t in row.phrase_terms]
                except KeyError:
                    continue
                if match_fn(pls, slop):
                    keep_q.append(row.query_id)
                    keep_d.append(row.doc_id)
            yield pd.DataFrame({
                "query_id": np.array(keep_q, dtype="int32"),
                "doc_id": np.array(keep_d, dtype="int64")})

    return tp.mapInPandas(verify, schema="query_id int, doc_id long")


def phrase_topk(docs_df: DataFrame, phrases: list[tuple[int, str]],
                k: int = 10, slop: int = 0) -> DataFrame:
    """Top-k BM25 over documents containing each query phrase.

    ``docs_df``: (doc_id, text). ``phrases``: [(query_id, phrase)].
    Returns (query_id, rank, doc_id, score) — schema-compatible with
    the other top-k entries.
    """
    spark = docs_df.sparkSession
    toks = docs_df.select(
        "doc_id", F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                     lambda x: x != F.lit(""))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    st = dl.agg(F.count(F.lit(1)).alias("n"),
                F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(st["n"]), float(st["avgdl"])

    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qrows, prows = [], []
    for qid, phrase in phrases:
        terms = analysis.tokenize(phrase)
        if not terms:
            continue
        for t in sorted(set(terms)):
            qrows.append((qid, t))
        prows.append((qid, phrase_pattern(terms, slop), len(set(terms))))
    qterms = spark.createDataFrame(qrows, "query_id int, term string")
    pats = spark.createDataFrame(
        prows, "query_id int, pat string, n_terms int")

    # 1. conjunctive candidates: docs with ALL the phrase's terms
    cand = (
        tf.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .join(F.broadcast(pats.select("query_id", "n_terms")), "query_id")
        .where(F.col("n_hit") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )

    # 2. adjacency verify on candidates only (JVM string ops, no UDF).
    #    Semi-join BEFORE the tokenize projection so the expensive
    #    joined-tokens chain never evaluates on a non-candidate row
    #    (same reorder as score_phrase_batch — VERDICT r4 #1).
    joined = (docs_df.join(cand.select("doc_id").distinct(),
                           "doc_id", "left_semi")
              .select("doc_id",
                      plan_barrier(joined_tokens_expr("text")).alias("jt")))
    matcher = (F.col("jt").contains(F.col("pat")) if slop == 0
               else F.expr("rlike(jt, pat)"))
    verified = (
        cand.join(joined, "doc_id")
        .join(F.broadcast(pats.select("query_id", "pat")), "query_id")
        .where(matcher)
        .select("query_id", "doc_id")
    )

    # 3. BM25 over the phrase terms, verified docs only, global stats
    from .scoring import collected_idf, contribution_expr

    contribs = (
        tf.join(F.broadcast(qterms), "term")
        .join(verified, ["query_id", "doc_id"])
        .join(F.broadcast(collected_idf(dfreq, qterms, n_docs)), "term")
        .join(dl, "doc_id")
        .withColumn("contrib",
                    contribution_expr(avgdl, analysis.K1, analysis.B))
    )
    scored = (
        contribs.groupBy("query_id", "doc_id")
        .agg(F.sort_array(
            F.collect_list(F.struct("term", "contrib"))).alias("parts"))
        .withColumn("score", F.aggregate(
            "parts", F.lit(0.0), lambda a, x: a + x["contrib"]))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 9).desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id",
                F.round("score", 6).alias("score"))
    )
