"""Significant-terms aggregation: terms OVER-REPRESENTED in a query's
match set relative to the whole corpus — the "what is this result set
about" device (ES significant_terms; the reference's RAG layer leaves
topic discovery to the LLM, /root/reference/service/code_interpreter.py
summarization path — here it is a deterministic index-side aggregate).

Scoring is the JLH heuristic (ES default):

    fg_pct = fg_count / sample_n        # share of sampled hits with t
    bg_pct = df / n_docs                # corpus share with t
    jlh    = (fg_pct - bg_pct) * (fg_pct / bg_pct)

computed over a deterministic top-``sample_size`` sample of the match
set (best score first, url tie-break — the same stable external key
collapse/recency rank on). Query terms themselves are included (they
trivially rank high, as in ES); callers drop them if unwanted.

Plan shape (100 TB-safe): scored_matches is the engine's one-shuffle
match set; the sample is top-k-sized (WindowGroupLimit); the corpus is
tokenized ONLY for the sampled docs (semi-join below the tokenize
projection, the snippet.py shape); the background df comes from the
term_stats table keyed by the Spark-side term_id expression — never a
second corpus pass. The fg side is sample-sized, so the term_stats
join broadcasts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.build import doc_id_expr, term_id_expr, tokens_expr


def significant_terms(spark, snap, query_text: str, docs_df: DataFrame,
                      top: int = 20, sample_size: int = 100,
                      min_doc_count: int = 2) -> DataFrame:
    """(term, fg_count, sample_n, df, score) for the ``top`` most
    significant terms of ``query_text``'s match set, ordered by
    (round(score, 9) DESC, term ASC). ``snap``: the query's Snapshot
    (index/storage.py) — match set, doc_stats, term_stats and n_docs
    all come from its epoch."""
    from .phrase import plan_barrier
    from .scoring import scored_matches

    if top < 1 or sample_size < 1:
        raise ValueError("top and sample_size must be >= 1")
    sm = scored_matches(spark, snap, [{"query_id": 0, "text": query_text}])
    ds = snap.store.doc_stats(spark, snap.epoch).select("doc_id", "url")
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("url").asc())
    sample = (sm.join(ds, "doc_id")
              .withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= sample_size)
              .select("doc_id", "url"))

    src = docs_df
    if "doc_id" not in src.columns:
        src = src.withColumn("doc_id", doc_id_expr("url"))
    # semi-join FIRST, tokenize survivors only; plan_barrier stops
    # Catalyst re-inlining the tokenize chain below the join
    toked = (src.join(sample.select("doc_id"), "doc_id", "left_semi")
             .select("doc_id",
                     plan_barrier(F.array_distinct(tokens_expr("text")))
                     .alias("ts")))
    fg = (toked.select(F.explode("ts").alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("fg_count"))
          .where(F.col("fg_count") >= min_doc_count))
    sample_n = sample.agg(F.count(F.lit(1)).alias("sample_n"))

    bg = snap.store.term_stats(spark, snap.epoch).select("term_id", "df")
    scored = (fg.withColumn("term_id", term_id_expr("term"))
              .join(bg, "term_id")
              .crossJoin(F.broadcast(sample_n)))
    fg_pct = F.col("fg_count") / F.col("sample_n")
    bg_pct = F.col("df") / F.lit(float(snap.n_docs))
    return (scored
            .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
            .withColumn("_rk", F.row_number().over(
                Window.orderBy(F.round(F.col("score"), 9).desc(),
                               F.col("term").asc())))
            .where(F.col("_rk") <= top).drop("_rk", "term_id")
            .select("term", "fg_count", "sample_n", "df", "score"))
