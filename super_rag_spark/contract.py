"""Driver-contract queries: Spark implementation + DuckDB oracle SQL pairs.

Each entry maps one operator from SURVEY.md §2 (or a training-data op)
to (a) a Spark callable (spark, sf_dir) -> DataFrame and (b) an
equivalent ANSI-SQL string for DuckDB over the same parquet views.
Column names/types are aliased identically on both sides; float columns
are rounded (6 dp) and orderings use round(score, 9) + id tie-breaks so
cross-engine float-sum jitter cannot flip the comparison.

The documents table (doc_id, text, lang, source, n_chars) has clean
space-separated lowercase text, so the engine tokenizer (regex) and the
SQL string_split agree exactly.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import analysis, ann, textops
from .index.build import tokens_expr
from .query.scoring import collected_idf, contribution_expr

# ---------------------------------------------------------------- helpers

_TOKS_SQL = (
    "toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
    "FROM documents), "
    "tok AS (SELECT doc_id, term FROM toks WHERE term <> ''), "
    "tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term), "
    "dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id), "
    "stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl), "
    "dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)"
)

FIXED_TERMS = ["table", "scan", "fast", "query"]

BM25_QUERIES = [
    (0, "table scan"),
    (1, "fast query value"),
    (2, "key"),
    (3, "agg join row"),
    (4, "stream batch window"),
]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tok_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) exploded tokens — mirror of the `tok` CTE."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens_expr("text")).alias("term"))
    )


def _tf_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tok_docs(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _bm25_scored(spark: SparkSession, sf_dir: str, queries: list[tuple[int, str]],
                 k: int = 10) -> DataFrame:
    """Direct DataFrame BM25 (tokenize -> tf -> df -> contribution ->
    deterministic sum -> per-query top-k). Same exprs as the index path."""
    qrows = [(qid, t) for qid, qtext in queries for t in sorted(set(analysis.tokenize(qtext)))]
    qterms = spark.createDataFrame(qrows, "query_id int, term string")
    return _bm25_score_qterms(spark, sf_dir, qterms, k)


def _bm25_score_qterms(spark: SparkSession, sf_dir: str, qterms: DataFrame,
                       k: int = 10) -> DataFrame:
    """BM25 scoring body over an arbitrary (query_id, term) frame —
    shared by the literal-query entries and the prefix-expansion one."""
    toks = _tok_docs(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    st = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(st["n"]), float(st["avgdl"])

    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    contribs = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(collected_idf(dfreq, qterms, n_docs)), "term")
        .join(dl, "doc_id")
        .withColumn("contrib", contribution_expr(avgdl, analysis.K1, analysis.B))
    )
    scored = (
        contribs.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("parts"))
        .withColumn("score", F.aggregate("parts", F.lit(0.0), lambda a, x: a + x["contrib"]))
    )
    w = Window.partitionBy("query_id").orderBy(F.round("score", 9).desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
    )


def _bm25_sql(queries: list[tuple[int, str]], k: int = 10,
              cand_where: str | None = None, offset: int = 0) -> str:
    """BM25 ranking SQL; ``cand_where``: optional documents-table
    predicate restricting the SCORED set (P7 filter semantics: corpus
    stats n_docs/avgdl/df stay global, only candidates are ranked);
    ``offset``: skip the first N global ranks and renumber from 1 —
    the search_after page-(N/k + 1) oracle."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, qtext in queries for t in sorted(set(analysis.tokenize(qtext)))
    )
    cand_cte = (f"cand AS (SELECT doc_id FROM documents WHERE {cand_where}),"
                if cand_where else "")
    cand_join = " JOIN cand USING (doc_id)" if cand_where else ""
    return f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {vals}),
{cand_cte}
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term){cand_join} JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, (rank - {offset})::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank > {offset} AND rank <= {offset + k}
"""


def _bm25_weighted_sql(queries: list[tuple[int, dict[str, float]]],
                       k: int = 10, msm: int = 1) -> str:
    """Boosted BM25 with minimum-should-match: per-term weight w
    multiplies the standard contribution ((idf * tf_part) * w, same
    operation order as the engine), and docs matching fewer than
    ``msm`` distinct query terms are dropped before ranking."""
    vals = ", ".join(
        f"({qid}, '{t}', {float(w)})"
        for qid, weights in queries for t, w in sorted(weights.items()))
    return f"""
WITH {_TOKS_SQL},
q(query_id, term, w) AS (VALUES {vals}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         (ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
          * (tf.tf * {analysis.K1 + 1.0}) /
            (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl))) * q.w AS c
  FROM q JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score
           FROM contrib GROUP BY query_id, doc_id
           HAVING count(*) >= {msm}),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


def _mlt_sql(src_id: int, max_terms: int = 10, k: int = 10) -> str:
    """More-like-this oracle: top ``max_terms`` source-doc terms by
    tf·idf (tf·idf DESC, term ASC — the engine's selection rule), then
    standard BM25 over that OR-bag with the source doc excluded."""
    return f"""
WITH {_TOKS_SQL},
sel AS (SELECT tf.term
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
        WHERE tf.doc_id = {src_id}
        ORDER BY tf.tf * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) DESC,
                 tf.term ASC
        LIMIT {max_terms}),
q(query_id, term) AS (SELECT 0, term FROM sel),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  WHERE tf.doc_id <> {src_id}
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------- registry

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _q(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


# ---- BM25 core (SURVEY.md §2.4/2.6: tf, df, corpus stats, top-k) ----------

_terms_in = ", ".join(f"'{t}'" for t in FIXED_TERMS)


@_q("tf_per_doc_term", f"""
WITH {_TOKS_SQL}
SELECT doc_id, term, tf FROM tf WHERE term IN ({_terms_in})
""")
def tf_per_doc_term(spark, sf_dir):
    return _tf_df(spark, sf_dir).where(F.col("term").isin(FIXED_TERMS))


@_q("df_per_term", f"""
WITH {_TOKS_SQL}
SELECT term, df FROM dfreq
""")
def df_per_term(spark, sf_dir):
    return (_tf_df(spark, sf_dir).groupBy("term")
            .agg(F.count(F.lit(1)).alias("df")))


@_q("corpus_stats", f"""
WITH {_TOKS_SQL}
SELECT n_docs, round(avgdl, 6) AS avgdl,
       (SELECT sum(dl)::BIGINT FROM dl) AS total_tokens
FROM stats
""")
def corpus_stats(spark, sf_dir):
    dl = (_tok_docs(spark, sf_dir).groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("dl")))
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
        F.sum("dl").alias("total_tokens"),
    )


@_q("doc_length", f"""
WITH {_TOKS_SQL}
SELECT doc_id, dl FROM dl
""")
def doc_length(spark, sf_dir):
    return (_tok_docs(spark, sf_dir).groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("dl")))


@_q("bm25_topk_single", _bm25_sql([BM25_QUERIES[0]]))
def bm25_topk_single(spark, sf_dir):
    return _bm25_scored(spark, sf_dir, [BM25_QUERIES[0]])


@_q("bm25_topk_multi", _bm25_sql(BM25_QUERIES))
def bm25_topk_multi(spark, sf_dir):
    return _bm25_scored(spark, sf_dir, BM25_QUERIES)


# ---- prefix / wildcard retrieval (engine.prefix_topk, Lucene-style) --------

PREFIX_QUERIES = [(0, "ta"), (1, "s"), (2, "qu")]
PREFIX_MAX_EXPANSIONS = 20


def _prefix_sql(prefixes: list[tuple[int, str]], max_exp: int, k: int = 10) -> str:
    """Oracle for prefix retrieval: expand each prefix to its top
    ``max_exp`` corpus terms by (df DESC, term) — the engine's
    deterministic max_expansions cap — then rank with the standard BM25
    body over the expanded (query_id, term) set."""
    vals = ", ".join(f"({qid}, '{p}')" for qid, p in prefixes)
    return f"""
WITH {_TOKS_SQL},
p(query_id, prefix) AS (VALUES {vals}),
expanded AS (
  SELECT p.query_id, d.term, d.df,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY d.df DESC, d.term) AS rn
  FROM p JOIN dfreq d ON d.term LIKE p.prefix || '%'
),
q AS (SELECT query_id, term FROM expanded WHERE rn <= {max_exp}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@_q("prefix_topk", _prefix_sql(PREFIX_QUERIES, PREFIX_MAX_EXPANSIONS))
def prefix_topk(spark, sf_dir):
    """Wildcard 'pre*' retrieval (engine.prefix_topk semantics): df-
    capped deterministic expansion, then per-expansion-idf BM25. The
    sum over parts stays collect_list/sort_array-deterministic so the
    cross-engine hash compare cannot see float-order jitter."""
    dfreq = (_tf_df(spark, sf_dir).groupBy("term")
             .agg(F.count(F.lit(1)).alias("df")))
    pfx = spark.createDataFrame(PREFIX_QUERIES, "query_id int, prefix string")
    w = Window.partitionBy("query_id").orderBy(F.col("df").desc(), F.col("term").asc())
    qterms = (
        dfreq.join(F.broadcast(pfx), F.col("term").startswith(F.col("prefix")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PREFIX_MAX_EXPANSIONS)
        .select("query_id", "term")
    )
    return _bm25_score_qterms(spark, sf_dir, qterms)


# ---- BM25F field-weighted ranking (index/build.py title_weight) ------------

_BM25F_TITLE_N = 8   # pseudo-title: the doc's first 8 tokens
_BM25F_W = 2         # title tokens counted twice


def _bm25f_sql(queries: list[tuple[int, str]], k: int = 10) -> str:
    """Oracle for BM25F in field-concatenation form (build_index
    title_weight): weighted tf = tf + (W-1)*title_tf, weighted dl =
    dl + (W-1)*|title|, ONE shared length normalization over the
    weighted avgdl; df untouched (repetition never changes doc
    membership). The documents table has no title column, so the title
    field is the doc's first {_BM25F_TITLE_N} tokens — deterministic on
    both engines."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, qtext in queries
        for t in sorted(set(analysis.tokenize(qtext))))
    w_extra = _BM25F_W - 1
    return f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {vals}),
ttl AS (SELECT doc_id, unnest(string_split(text, ' ')[1:{_BM25F_TITLE_N}]) AS term
        FROM documents),
tft AS (SELECT doc_id, term, count(*)::BIGINT AS tf_t FROM ttl
        WHERE term <> '' GROUP BY doc_id, term),
tfw AS (SELECT tf.doc_id, tf.term,
               tf.tf + {w_extra} * coalesce(tft.tf_t, 0) AS tfw
        FROM tf LEFT JOIN tft USING (doc_id, term)),
dlw AS (SELECT doc_id, dl + {w_extra} * least(dl, {_BM25F_TITLE_N}) AS dlw FROM dl),
statsw AS (SELECT count(*)::BIGINT AS n_docs, avg(dlw) AS avgdlw FROM dlw),
contrib AS (
  SELECT q.query_id, tfw.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tfw.tfw * {analysis.K1 + 1.0}) /
           (tfw.tfw + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dlw.dlw / s.avgdlw)) AS c
  FROM q JOIN tfw USING (term) JOIN dfreq d USING (term) JOIN dlw USING (doc_id)
  CROSS JOIN statsw s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@_q("bm25f_topk", _bm25f_sql(BM25_QUERIES))
def bm25f_topk(spark, sf_dir):
    """BM25F ranking, field-concatenation form (the semantics
    build_index(title_weight=W) bakes into the index): title tokens
    counted W times in tf AND dl, shared normalization, global df."""
    toks = _tok_docs(spark, sf_dir)
    w_extra = _BM25F_W - 1

    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tft = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(
            F.slice(tokens_expr("text"), 1, _BM25F_TITLE_N)).alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf_t"))
    )
    tfw = (
        tf.join(tft, ["doc_id", "term"], "left")
        .withColumn("tfw", F.col("tf")
                    + w_extra * F.coalesce(F.col("tf_t"), F.lit(0)))
    )
    dlw = (
        toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
        .withColumn("dlw", F.col("dl")
                    + w_extra * F.least(F.col("dl"), F.lit(_BM25F_TITLE_N)))
    )
    st = dlw.agg(F.count(F.lit(1)).alias("n"),
                 F.avg("dlw").alias("avgdlw")).collect()[0]
    n_docs, avgdlw = int(st["n"]), float(st["avgdlw"])

    qrows = [(qid, t) for qid, qtext in BM25_QUERIES
             for t in sorted(set(analysis.tokenize(qtext)))]
    qterms = spark.createDataFrame(qrows, "query_id int, term string")

    idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    contribs = (
        tfw.join(F.broadcast(qterms), "term")
        .join(dfreq, "term")
        .join(dlw, "doc_id")
        .withColumn("contrib", idf * (F.col("tfw") * (analysis.K1 + 1.0)) /
                    (F.col("tfw") + analysis.K1 * (1.0 - analysis.B
                     + analysis.B * F.col("dlw") / avgdlw)))
    )
    scored = (
        contribs.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("parts"))
        .withColumn("score", F.aggregate("parts", F.lit(0.0),
                                         lambda a, x: a + x["contrib"]))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 9).desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
    )


# ---- faceted search (query/facets.py: counts over the FULL match set) ------

_FACET_QVALS = ", ".join(
    f"({qid}, '{t}')" for qid, qtext in BM25_QUERIES
    for t in sorted(set(analysis.tokenize(qtext))))


@_q("facet_counts", f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {_FACET_QVALS}),
matched AS (SELECT DISTINCT q.query_id, tf.doc_id FROM q JOIN tf USING (term))
SELECT m.query_id, d.lang, d.source, count(*)::BIGINT AS n_docs
FROM matched m JOIN documents d USING (doc_id)
GROUP BY m.query_id, d.lang, d.source
""")
def facet_counts(spark, sf_dir):
    """Facet counting (engine.facet_counts semantics, doc-table form):
    each query's match set is the docs containing >=1 query term (the
    OR-bag boolean chain); facets = (lang, source) doc counts over the
    WHOLE match set, not a top-k."""
    qrows = [(qid, t) for qid, qtext in BM25_QUERIES
             for t in sorted(set(analysis.tokenize(qtext)))]
    qterms = spark.createDataFrame(qrows, "query_id int, term string")
    matched = (
        _tok_docs(spark, sf_dir)
        .join(F.broadcast(qterms), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    return (
        matched.join(_docs(spark, sf_dir), "doc_id")
        .groupBy("query_id", "lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---- phrase / proximity search (match-then-verify, query/phrase.py) --------

PHRASE_QUERIES = [(0, "table hash"), (1, "customer join"), (2, "slow hash batch")]
PHRASE_SLOP_QUERIES = [(0, "window fast query"), (1, "part filter scan")]


def _phrase_sql(phrases: list[tuple[int, str]], slop: int = 0, k: int = 10) -> str:
    """BM25-ranked phrase match oracle: conjunctive candidates ->
    adjacency (or slop-regex) verify on the space-joined token stream ->
    BM25 over the phrase's terms with GLOBAL corpus stats."""
    from .query.phrase import phrase_pattern

    q_vals = ", ".join(
        f"({qid}, '{t}')" for qid, p in phrases
        for t in sorted(set(analysis.tokenize(p))))
    phr_vals = ", ".join(
        f"({qid}, '{phrase_pattern(analysis.tokenize(p), slop)}', "
        f"{len(set(analysis.tokenize(p)))})" for qid, p in phrases)
    verify = ("strpos(j.jt, phr.pat) > 0" if slop == 0
              else "regexp_matches(j.jt, phr.pat)")
    return f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {q_vals}),
phr(query_id, pat, n_terms) AS (VALUES {phr_vals}),
jt AS (SELECT doc_id,
              ' ' || array_to_string(list_filter(string_split(text, ' '),
                                                 x -> x <> ''), ' ') || ' ' AS jt
       FROM documents),
cand AS (SELECT q.query_id, tf.doc_id
         FROM q JOIN tf USING (term) JOIN phr USING (query_id)
         GROUP BY q.query_id, tf.doc_id, phr.n_terms
         HAVING count(*) = phr.n_terms),
verified AS (SELECT c.query_id, c.doc_id
             FROM cand c JOIN jt AS j USING (doc_id) JOIN phr USING (query_id)
             WHERE {verify}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term)
  JOIN verified v ON v.query_id = q.query_id AND v.doc_id = tf.doc_id
  JOIN dfreq d USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@_q("phrase_topk", _phrase_sql(PHRASE_QUERIES))
def phrase_topk_entry(spark, sf_dir):
    from .query.phrase import phrase_topk

    return phrase_topk(_docs(spark, sf_dir).select("doc_id", "text"),
                       PHRASE_QUERIES)


@_q("phrase_topk_slop", _phrase_sql(PHRASE_SLOP_QUERIES, slop=1))
def phrase_topk_slop_entry(spark, sf_dir):
    """Proximity variant: each inter-term gap admits <=1 extra token
    (' t1( [a-z0-9]+){0,1} t2 ...' — the regex subset where Java regex
    and RE2 agree)."""
    from .query.phrase import phrase_topk

    return phrase_topk(_docs(spark, sf_dir).select("doc_id", "text"),
                       PHRASE_SLOP_QUERIES, slop=1)


# ---- boolean retrieval (query/boolean.py) ----------------------------------

BOOLEAN_QUERIES = [(0, "table AND scan NOT hash"),
                   (1, "customer OR supplier NOT join"),
                   (2, "vector OR spark AND data")]


def _boolean_sql(queries: list[tuple[int, str]], k: int = 10) -> str:
    """Left-associative AND/OR/NOT candidate algebra as parenthesized
    INTERSECT/UNION/EXCEPT (SQL's own set-op precedence differs, so the
    generator parenthesizes every step), then BM25 over the positive
    terms with GLOBAL stats."""
    from .query.boolean import boolean_sql_cand, parse_boolean

    q_vals, cand_arms = [], []
    for qid, expr in queries:
        steps = parse_boolean(expr)
        for t in sorted({t for op, t in steps if op != "NOT"}):
            q_vals.append(f"({qid}, '{t}')")
        cand_arms.append(
            f"SELECT {qid} AS query_id, doc_id FROM ({boolean_sql_cand(steps)})")
    return f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {', '.join(q_vals)}),
cand AS ({' UNION ALL '.join(cand_arms)}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term)
  JOIN cand ON cand.query_id = q.query_id AND cand.doc_id = tf.doc_id
  JOIN dfreq d USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@_q("boolean_topk", _boolean_sql(BOOLEAN_QUERIES))
def boolean_topk_entry(spark, sf_dir):
    """AND/OR/NOT set algebra over the tf relation, BM25-ranked over
    positive terms (query/boolean.py — the classic fulltext query form
    the reference's dense API cannot express)."""
    from .query.boolean import boolean_topk

    return boolean_topk(_docs(spark, sf_dir).select("doc_id", "text"),
                        BOOLEAN_QUERIES)


# ---- dedup family ----------------------------------------------------------


@_q("dedup_exact", """
SELECT doc_id, md5(text) AS content_hash,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       count(*) OVER (PARTITION BY md5(text))::BIGINT AS group_size
FROM documents
""")
def dedup_exact(spark, sf_dir):
    return textops.exact_dup_groups(_docs(spark, sf_dir))


@_q("bigram_pmi", """
WITH arr AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
             FROM documents),
tok AS (SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS pos FROM arr),
uni AS (SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY t),
n_uni AS (SELECT count(*)::BIGINT AS n FROM tok),
pr AS (SELECT doc_id, t AS t1, lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
       FROM tok),
pairs AS (SELECT t1, t2 FROM pr WHERE t2 IS NOT NULL),
n_bi AS (SELECT count(*)::BIGINT AS n FROM pairs),
bi AS (SELECT t1, t2, count(*)::BIGINT AS c_ab FROM pairs
       GROUP BY t1, t2 HAVING count(*) >= 5),
scored AS (SELECT t1, t2, c_ab,
                  round(ln((c_ab::DOUBLE / nb.n) /
                           ((ua.c::DOUBLE / nu.n) * (ub.c::DOUBLE / nu.n))), 6) AS pmi
           FROM bi JOIN uni ua ON ua.t = bi.t1 JOIN uni ub ON ub.t = bi.t2
           CROSS JOIN n_bi nb CROSS JOIN n_uni nu)
SELECT t1, t2, c_ab, pmi FROM scored ORDER BY pmi DESC, t1, t2 LIMIT 50
""")
def bigram_pmi_entry(spark, sf_dir):
    """Adjacent-bigram collocations by PMI (textops.bigram_pmi) —
    linear pair generation, two hash aggregates, broadcast unigram
    joins; the collocation-discovery pass of a vocab-induction
    pipeline."""
    return textops.bigram_pmi(_docs(spark, sf_dir))


@_q("corpus_report", """
WITH arr AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts
             FROM documents),
per AS (SELECT len(ts)::BIGINT AS n_tokens FROM arr),
tok AS (SELECT unnest(ts) AS t FROM arr),
s AS (SELECT count(*)::BIGINT AS n_docs,
             sum(n_tokens)::BIGINT AS n_toks,
             round(avg(n_tokens), 6) AS avg_tokens,
             min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
             round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
             round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens
      FROM per),
v AS (SELECT count(DISTINCT t)::BIGINT AS vocab FROM tok)
SELECT n_docs, n_toks AS n_tokens, vocab,
       round(vocab / n_toks::DOUBLE, 9) AS type_token_ratio,
       avg_tokens, min_tokens, max_tokens, p50_tokens, p90_tokens
FROM s CROSS JOIN v
""")
def corpus_report_entry(spark, sf_dir):
    """One-row 'dataset card' stats pass (textops.corpus_report):
    scale counts, vocabulary, TTR, token-length distribution."""
    return textops.corpus_report(_docs(spark, sf_dir))


@_q("token_counts", r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::INT AS ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))::INT AS bpe_tokens,
       round(length(text) / greatest(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')), 1), 6) AS chars_per_bpe_token
FROM documents
""")
def token_counts(spark, sf_dir):
    """Whitespace + BPE-ish-regex token counting (textops.token_counts):
    the same ERE pattern evaluated by Spark's Java regex and DuckDB's
    RE2, so counts must match token for token."""
    return textops.token_counts(_docs(spark, sf_dir))


# Planted near-duplicates: the raw documents table is random text with
# no near-dup pairs, which made similarity entries pass vacuously
# (0 rows == 0 rows). Both engines augment the SAME bounded slice with
# deterministic variants — doubled text (shingle-set near-identity,
# SimHash-identical) and a suffixed tail (high-but-<1 Jaccard, small
# Hamming) — so every near-dup operator verifies real rows.
_AUG_SQL = """aug AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 120
  UNION ALL
  SELECT doc_id + 1000000, text || ' ' || text FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 2000000, text || ' qq zz qq' FROM documents
  WHERE doc_id >= 30 AND doc_id < 60
)"""

_AUG_SHINGLES_SQL = """
tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM aug),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                               i -> array_to_string(ts[i:i+2], ' '))) AS shingle
  FROM tk
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id)"""


def _docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _docs(spark, sf_dir).select("doc_id", "text")
    dup = (base.where(F.col("doc_id") < 30)
           .select((F.col("doc_id") + 1000000).alias("doc_id"),
                   F.concat("text", F.lit(" "), "text").alias("text")))
    tail = (base.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))
            .select((F.col("doc_id") + 2000000).alias("doc_id"),
                    F.concat("text", F.lit(" qq zz qq")).alias("text")))
    return base.where(F.col("doc_id") < 120).unionByName(dup).unionByName(tail)


@_q("ngram_jaccard_pairs", f"""
WITH {_AUG_SQL}, {_AUG_SHINGLES_SQL},
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*)::BIGINT AS inter
  FROM sh x JOIN sh y USING (shingle)
  WHERE x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT doc_a, doc_b,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
""")
def ngram_jaccard(spark, sf_dir):
    return textops.ngram_jaccard_pairs(_docs_aug(spark, sf_dir), n=3, threshold=0.5)


def _minhash_sql_cols() -> str:
    return ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(textops.N_MINHASH_PERMS)
    )


def _minhash_aug_sql_parts() -> str:
    """sig + bands CTE text over the augmented docs (shared by the LSH
    candidate entry and the LSH-verified Jaccard entry)."""
    return f"""
sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS band_val FROM sig
  UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig
),
cand AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y USING (band_id, band_val)
  WHERE x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)"""


@_q("ngram_jaccard_lsh_verified", f"""
WITH {_AUG_SQL}, {_AUG_SHINGLES_SQL}, {_minhash_aug_sql_parts()},
inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.3
""")
def ngram_jaccard_lsh_verified(spark, sf_dir):
    """The at-scale dedup pipeline: MinHash-LSH candidate generation
    (banded bucket join, never all-pairs) feeding the exact n-gram
    Jaccard verifier through ``candidates=``."""
    docs = _docs_aug(spark, sf_dir)
    cand = textops.minhash_lsh_candidates(docs)
    return textops.ngram_jaccard_pairs(docs, n=3, threshold=0.3, candidates=cand)


@_q("dedup_clusters", f"""
WITH RECURSIVE {_AUG_SQL}, {_AUG_SHINGLES_SQL}, {_minhash_aug_sql_parts()},
inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
),
edges AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.3
),
und AS (SELECT doc_a AS a, doc_b AS b FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges),
reach(doc_id, r) AS (
    SELECT doc_id, doc_id FROM aug
  UNION
    SELECT u.b, reach.r FROM reach JOIN und u ON reach.doc_id = u.a
),
lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM lab
""")
def dedup_clusters_entry(spark, sf_dir):
    """Transitive near-dup clustering (textops.dedup_clusters): LSH
    candidates -> exact-Jaccard edges -> connected components by
    iterative min-label propagation; oracled against a DuckDB recursive
    CTE computing full reachability over the SAME edge relation. The
    planted doubled-text variants cluster with their bases, so the
    check is non-vacuous (clusters of size >= 2 exist)."""
    docs = _docs_aug(spark, sf_dir)
    cand = textops.minhash_lsh_candidates(docs)
    edges = textops.ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                        candidates=cand)
    return textops.dedup_clusters(docs, edges=edges)


@_q("clean_corpus_pipeline", f"""
WITH {_AUG_SQL},
tokn AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM aug),
ctok AS (SELECT doc_id, term FROM tokn WHERE term <> ''),
per AS (SELECT doc_id, count(*)::INT AS n_tokens FROM ctok GROUP BY doc_id),
hits AS (
  SELECT a.doc_id,
         coalesce(sum(CASE WHEN t.term IN ('the','and','of','to','is') THEN 1 ELSE 0 END), 0)::INT AS hits_en,
         coalesce(sum(CASE WHEN t.term IN ('der','die','und','das','ist') THEN 1 ELSE 0 END), 0)::INT AS hits_de,
         coalesce(sum(CASE WHEN t.term IN ('le','la','et','les','est') THEN 1 ELSE 0 END), 0)::INT AS hits_fr,
         coalesce(sum(CASE WHEN t.term IN ('el','la','los','que','es') THEN 1 ELSE 0 END), 0)::INT AS hits_es
  FROM aug a LEFT JOIN ctok t USING (doc_id) GROUP BY a.doc_id
),
langp AS (
  SELECT doc_id,
         CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) <= 0 THEN 'und'
              WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
              WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
              WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
              ELSE 'es' END AS pred_lang
  FROM hits
),
gated AS (
  SELECT a.doc_id, a.text, l.pred_lang, p.n_tokens
  FROM aug a JOIN per p USING (doc_id) JOIN langp l USING (doc_id)
  WHERE p.n_tokens >= 20 AND l.pred_lang <> 'und'
),
canon AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical FROM gated),
uniq AS (SELECT doc_id, text, pred_lang, n_tokens FROM canon WHERE doc_id = canonical),
tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM uniq),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                               i -> array_to_string(ts[i:i+2], ' '))) AS shingle
  FROM tk
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
{_minhash_aug_sql_parts()},
inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
),
losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.5
)
SELECT u.doc_id, u.pred_lang, u.n_tokens
FROM uniq u LEFT JOIN losers lo ON lo.doc_id = u.doc_id
WHERE lo.doc_id IS NULL
""")
def clean_corpus_pipeline(spark, sf_dir):
    """The COMPOSED training-data cleaning pipeline
    (textops.clean_corpus): quality gate -> language gate -> exact
    dedup -> LSH-verified near-dup drop, end to end against one SQL
    oracle. Runs over the near-dup-augmented slice so every stage
    provably fires (gates drop short/und docs, LSH drops the planted
    variants)."""
    out = textops.clean_corpus(_docs_aug(spark, sf_dir), min_tokens=20)
    return out.select("doc_id", "pred_lang", "n_tokens")


@_q("minhash_signatures", f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                               i -> array_to_string(ts[i:i+2], ' '))) AS shingle
  FROM tk
)
SELECT doc_id, {_minhash_sql_cols()} FROM sh GROUP BY doc_id
""")
def minhash_signatures(spark, sf_dir):
    return textops.minhash_signatures(_docs(spark, sf_dir))


@_q("minhash_lsh_candidates", f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                               i -> array_to_string(ts[i:i+2], ' '))) AS shingle
  FROM tk
),
sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 AS band_val FROM sig
  UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig
)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*)::BIGINT AS n_bands_shared
FROM bands x JOIN bands y USING (band_id, band_val)
WHERE x.doc_id < y.doc_id
GROUP BY x.doc_id, y.doc_id
""")
def minhash_lsh(spark, sf_dir):
    return textops.minhash_lsh_candidates(_docs(spark, sf_dir))


# SimHash in pure SQL: per token, bit i of the 64-bit hash lives in hex
# nibble 16 - i//4 of md5(term) (big-endian first 8 bytes, exactly
# int.from_bytes(md5[:8], 'big') in textops.simhash_map_in_pandas);
# majority vote per bit, pack via HUGEINT shifts, reinterpret as
# two's-complement BIGINT.
_SIMHASH_SQL_BODY = """
toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM {src}),
tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
bits AS (
  SELECT doc_id, r.i AS i,
         sum(CASE WHEN ((strpos('0123456789abcdef',
                                substr(md5(term), 16 - (r.i // 4), 1)) - 1)
                        >> (r.i % 4)) & 1 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM tok, range(0, 64) r(i)
  GROUP BY doc_id, r.i
),
packed AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN 1::HUGEINT << i ELSE 0::HUGEINT END) AS u
  FROM bits GROUP BY doc_id
),
simhashed AS (
  SELECT d.doc_id,
         coalesce((CASE WHEN p.u >= 9223372036854775808::HUGEINT
                        THEN p.u - 18446744073709551616::HUGEINT
                        ELSE p.u END)::BIGINT, 0) AS simhash
  FROM {src} d LEFT JOIN packed p USING (doc_id)
)"""


@_q("simhash_table", f"""
WITH {_SIMHASH_SQL_BODY.format(src="documents")}
SELECT doc_id, simhash FROM simhashed
""")
def simhash(spark, sf_dir):
    return textops.simhash_table(_docs(spark, sf_dir))


@_q("simhash_neighbors", f"""
WITH {_AUG_SQL}, {_SIMHASH_SQL_BODY.format(src="aug")},
u AS (
  SELECT doc_id, simhash,
         (CASE WHEN simhash < 0 THEN simhash::HUGEINT + 18446744073709551616::HUGEINT
               ELSE simhash::HUGEINT END) AS uh
  FROM simhashed
),
banded AS (
  SELECT doc_id, simhash, r.i AS band_id,
         ((uh >> (16 * r.i)) % 65536)::BIGINT AS band_val
  FROM u, range(0, 4) r(i)
),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.simhash AS sh_a, y.simhash AS sh_b
  FROM banded x JOIN banded y USING (band_id, band_val)
  WHERE x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
""")
def simhash_neighbors(spark, sf_dir):
    """SimHash near-dup SEARCH (not just the signature table): 4x16-bit
    band equi-join (pigeonhole-complete for Hamming<=3) + exact popcount
    verify, on the planted-near-dup corpus."""
    return textops.simhash_neighbor_pairs(_docs_aug(spark, sf_dir), max_hamming=3)


# ---- text analysis ---------------------------------------------------------

_stop_in = ", ".join(f"'{w}'" for w in textops.STOPWORDS)


@_q("quality_metrics", f"""
WITH {_TOKS_SQL},
per AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_tokens,
         sum(length(term))::DOUBLE AS char_sum,
         count(DISTINCT term)::BIGINT AS n_uniq,
         sum(CASE WHEN term IN ({_stop_in}) THEN 1 ELSE 0 END)::DOUBLE AS n_stop
  FROM tok GROUP BY doc_id
)
SELECT d.doc_id,
       length(d.text)::INT AS n_chars,
       p.n_tokens,
       round(p.n_tokens / greatest(length(d.text), 1), 6) AS token_density,
       round(p.char_sum / greatest(p.n_tokens, 1), 6) AS avg_token_len,
       round(p.n_uniq / greatest(p.n_tokens, 1)::DOUBLE, 6) AS uniq_ratio,
       round(p.n_stop / greatest(p.n_tokens, 1), 6) AS stopword_ratio
FROM documents d JOIN per p USING (doc_id)
""")
def quality_metrics(spark, sf_dir):
    out = textops.quality_metrics(_docs(spark, sf_dir))
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


@_q("hash_sample", f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5('sample:' || doc_id::VARCHAR), 1, 8)
      < '{textops._hash_frac_hex(0.25)}'
ORDER BY doc_id
""")
def hash_sample_entry(spark, sf_dir):
    """Deterministic content-hash sampling (textops.hash_sample,
    rate 0.25): the sampled SET must be identical across engines —
    the md5-prefix threshold compare is the whole decision."""
    return (textops.hash_sample(_docs(spark, sf_dir), 0.25)
            .select("doc_id", "lang").orderBy("doc_id"))


@_q("stratified_sample", f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5('mix:' || doc_id::VARCHAR), 1, 8)
      < CASE lang WHEN 'en' THEN '{textops._hash_frac_hex(0.5)}'
                  WHEN 'de' THEN '{textops._hash_frac_hex(0.2)}'
                  ELSE '00000000' END
ORDER BY doc_id
""")
def stratified_sample_entry(spark, sf_dir):
    """Per-stratum deterministic sampling / data mixing
    (textops.stratified_hash_sample): 50% of en, 20% of de, drop the
    rest — the per-language mix weights of a pretraining data recipe."""
    return (textops.stratified_hash_sample(
        _docs(spark, sf_dir), {"en": 0.5, "de": 0.2}, salt="mix")
        .select("doc_id", "lang").orderBy("doc_id"))


@_q("repetition_metrics", """
WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents),
g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                                            i -> array_to_string(ts[i:i+1], ' '))) AS g
       FROM tk WHERE len(ts) >= 2),
c2 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g2 GROUP BY doc_id, g),
a2 AS (SELECT doc_id,
              round(max(c)::DOUBLE / sum(c), 6) AS top_2gram_frac,
              round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c), 6) AS dup_2gram_frac
       FROM c2 GROUP BY doc_id),
g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
                                            i -> array_to_string(ts[i:i+2], ' '))) AS g
       FROM tk WHERE len(ts) >= 3),
c3 AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g3 GROUP BY doc_id, g),
a3 AS (SELECT doc_id,
              round(max(c)::DOUBLE / sum(c), 6) AS top_3gram_frac,
              round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c), 6) AS dup_3gram_frac
       FROM c3 GROUP BY doc_id)
SELECT t.doc_id, len(t.ts)::BIGINT AS n_tokens,
       coalesce(a2.top_2gram_frac, 0.0) AS top_2gram_frac,
       coalesce(a2.dup_2gram_frac, 0.0) AS dup_2gram_frac,
       coalesce(a3.top_3gram_frac, 0.0) AS top_3gram_frac,
       coalesce(a3.dup_3gram_frac, 0.0) AS dup_3gram_frac
FROM tk t LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
""")
def repetition_metrics_entry(spark, sf_dir):
    """Gopher/C4-style repetition quality features
    (textops.repetition_metrics): most-frequent- and duplicated-n-gram
    occurrence fractions per doc, the boilerplate/spam signal
    token-level stats miss."""
    out = textops.repetition_metrics(_docs(spark, sf_dir))
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


_XDUP_N = 8


@_q("cross_doc_ngram_dup", f"""
WITH docs_l AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
grams AS (
  SELECT doc_id, array_to_string(l[i:i+{_XDUP_N - 1}], ' ') AS gram
  FROM docs_l, LATERAL (SELECT unnest(range(1, len(l) - {_XDUP_N - 2})) AS i) r
),
gd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY gram),
per AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_windows,
         sum(CASE WHEN gd.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
  FROM grams g JOIN gd USING (gram) GROUP BY g.doc_id)
SELECT doc_id, n_windows, n_dup,
       round(n_dup::DOUBLE / n_windows, 6) AS dup_frac
FROM per
""")
def cross_doc_ngram_dup(spark, sf_dir):
    """Cross-document duplicate-span fractions (Lee et al.-style exact
    substring duplication, windowed): per doc, the share of its
    {_XDUP_N}-token windows whose n-gram appears in >= 2 distinct docs
    corpus-wide (textops.cross_doc_ngram_dup). The Spark side hashes
    grams (xxhash64 int64 shuffle keys); the oracle carries gram
    strings — outputs agree because the gram value never leaves the
    aggregation."""
    return textops.cross_doc_ngram_dup(_docs(spark, sf_dir), n=_XDUP_N)


@_q("remove_dup_spans", f"""
WITH docs_l AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
wins AS (
  SELECT doc_id, i AS pos, array_to_string(l[i:i+{_XDUP_N - 1}], ' ') AS gram
  FROM docs_l, LATERAL (SELECT unnest(range(1, len(l) - {_XDUP_N - 2})) AS i) r
),
gd AS (SELECT gram, count(DISTINCT doc_id) AS nd, min(doc_id) AS canon
       FROM wins GROUP BY gram),
marked AS (
  SELECT DISTINCT w.doc_id, p
  FROM wins w JOIN gd USING (gram),
       LATERAL (SELECT unnest(range(w.pos, w.pos + {_XDUP_N})) AS p) r
  WHERE gd.nd >= 2 AND w.doc_id != gd.canon),
toks2 AS (SELECT doc_id, i AS p, l[i] AS tok
          FROM docs_l, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) r),
kept AS (SELECT t.doc_id, t.p, t.tok
         FROM toks2 t ANTI JOIN marked m USING (doc_id, p)),
rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text,
                   count(*)::BIGINT AS n_kept
            FROM kept GROUP BY doc_id),
sizes AS (SELECT doc_id, len(l)::BIGINT AS nb FROM docs_l)
SELECT s.doc_id, COALESCE(r.text, '') AS text, s.nb AS n_tokens_before,
       (s.nb - COALESCE(r.n_kept, 0))::BIGINT AS n_removed
FROM sizes s LEFT JOIN rebuilt r USING (doc_id)
""")
def remove_dup_spans_entry(spark, sf_dir):
    """Duplicate-span removal (textops.remove_dup_spans): the Lee et
    al.-style rewrite — every cross-doc duplicated {_XDUP_N}-gram
    window keeps its min-doc_id canonical copy, all other docs lose
    the covered tokens; per-doc rewritten text must hash-match the
    string-level oracle."""
    return textops.remove_dup_spans(_docs(spark, sf_dir), n=_XDUP_N)


# Fixed literal merge list for the BPE-encode oracle (training is a
# driver-side loop verified by units against a reference impl; the
# APPLICATION of an ordered merge list is what the oracle can mirror
# exactly — each merge is one global left-to-right replace in the
# char-space symbol string, identical semantics in both engines)
BPE_MERGES = [("t", "h"), ("a", "n"), ("an", "_"), ("e", "_"),
              ("s", "_"), ("th", "e_"), ("r", "o"), ("c", "an_")]


def _bpe_replace_chain(col: str) -> str:
    s = f"array_to_string(string_split({col}, ''), ' ') || ' _'"
    for a, b in BPE_MERGES:
        s = f"replace({s}, '{a} {b}', '{a}{b}')"
    return s


@_q("bpe_encode", f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
enc AS (SELECT doc_id, len(l)::BIGINT AS n_tokens,
               array_to_string(list_transform(l,
                   w -> {_bpe_replace_chain('w')}), ' ') AS e
        FROM t)
SELECT doc_id, n_tokens,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE len(string_split(e, ' ')) END::BIGINT AS n_bpe_tokens,
       md5(e) AS bpe_md5
FROM enc
""")
def bpe_encode_entry(spark, sf_dir):
    """BPE encoding (textops.bpe_encode): the fixed merge list applied
    as a Catalyst replace chain; per-doc symbol-sequence md5 must
    hash-match DuckDB's replace chain symbol for symbol."""
    return textops.bpe_encode(_docs(spark, sf_dir), BPE_MERGES)


_BPE_ID_CASE = ("CASE s " + " ".join(
    f"WHEN '{sym}' THEN {i}"
    for sym, i in sorted(textops.bpe_vocab(BPE_MERGES).items(),
                         key=lambda kv: kv[1])) + " ELSE NULL END")


@_q("bpe_encode_ids", f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
enc AS (SELECT doc_id, len(l)::BIGINT AS n_tokens,
               array_to_string(list_transform(l,
                   w -> {_bpe_replace_chain('w')}), ' ') AS e
        FROM t)
SELECT doc_id,
       CASE WHEN n_tokens = 0 THEN CAST([] AS INT[])
            ELSE list_transform(string_split(e, ' '),
                                s -> ({_BPE_ID_CASE})::INT) END AS ids,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE len(string_split(e, ' ')) END::BIGINT AS n_bpe_tokens
FROM enc
""")
def bpe_encode_ids_entry(spark, sf_dir):
    """Trainer-ready BPE ids (textops.bpe_encode_ids, the uncapped
    Arrow mapInPandas encoder): every doc's full id stream must match
    the SQL replace-chain + symbol-id lookup element for element —
    this also proves the Pandas encoder agrees with the Catalyst
    bpe_encode chain."""
    return textops.bpe_encode_ids(_docs(spark, sf_dir), BPE_MERGES)


# Synthetic URLs for the canonicalization entries (the test tables carry
# no url column): one expression string valid in BOTH dialects, covering
# every rule — mixed-case scheme/host, www., default port, tracking
# params, unsorted params, fragment, trailing slash.
_SYNTH_URL = (
    "concat('HTTPS://WWW.Site', doc_id % 7, '.Example.COM:443/Path/', "
    "doc_id % 50, CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=x&b=2&a=1#frag' "
    "WHEN doc_id % 3 = 1 THEN '?b=2&a=1&utm_campaign=z' ELSE '/' END)")

# DuckDB mirror of textops.canonical_url_expr, step for step (every
# regex anchored/single-match, so first-match replace semantics agree)
_CANON_STEPS_SQL = f"""
u AS (SELECT doc_id, {_SYNTH_URL} AS url FROM documents),
s1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS c FROM u),
p1 AS (SELECT doc_id,
              CASE WHEN regexp_extract(c, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = ''
                   THEN 'http'
                   ELSE lower(regexp_extract(c, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) END AS scheme,
              regexp_replace(c, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       FROM s1),
p2 AS (SELECT doc_id, scheme,
              regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
              regexp_extract(rest, '^[^/?]*(.*)$', 1) AS pathq
       FROM p1),
p3 AS (SELECT doc_id, scheme,
              regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)), '^www\\.', '') AS host,
              regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
              regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path,
              coalesce(array_to_string(list_sort(list_filter(string_split(
                  regexp_extract(pathq, '^[^?]*\\?(.*)$', 1), '&'),
                  p -> p <> '' AND NOT regexp_matches(p, '{textops.TRACKING_PARAM_RE}'))), '&'), '') AS qcanon
       FROM p2),
canon AS (SELECT doc_id,
                 scheme || '://' || host
                 || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                              OR (scheme = 'https' AND port = '443')
                         THEN '' ELSE ':' || port END
                 || path
                 || CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END AS canonical_url
          FROM p3)"""


def _synth_urls(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", F.expr(_SYNTH_URL).alias("url"))


@_q("url_canonicalize", f"""
WITH {_CANON_STEPS_SQL}
SELECT doc_id, canonical_url FROM canon
""")
def url_canonicalize(spark, sf_dir):
    """URL canonicalization (r5): scheme/host case, www., default
    ports, tracking params, param order, fragments, trailing slashes —
    one map-only Catalyst expression (textops.canonical_url_expr), the
    cheapest dedup signal a CC-scale crawl pipeline has."""
    return (textops.canonical_urls(_synth_urls(spark, sf_dir))
            .select("doc_id", "canonical_url"))


@_q("dedup_canonical_url", f"""
WITH {_CANON_STEPS_SQL}
SELECT min(doc_id) AS doc_id, canonical_url FROM canon GROUP BY canonical_url
""")
def dedup_canonical_url(spark, sf_dir):
    """URL-level dedup: one survivor (min doc_id) per canonical URL —
    one hash shuffle on the canonical key, partition-independent."""
    return (textops.dedup_canonical_url(_synth_urls(spark, sf_dir))
            .select("doc_id", "canonical_url"))


@_q("doc_keyterms", f"""
WITH {_TOKS_SQL},
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 6) AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) DESC,
                    tf.term ASC) AS rnk
  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s)
SELECT doc_id, term, tf, tfidf, rnk::INT AS rank
FROM scored WHERE rnk <= 5
""")
def doc_keyterms(spark, sf_dir):
    """Per-doc keyterm tagging (r5): top-5 terms by tf·idf per
    document, deterministic tie-break — the routing/clustering tag
    pass of a training-data pipeline (textops.doc_keyterms)."""
    return textops.doc_keyterms(_docs(spark, sf_dir), top=5)


@_q("shard_export", """
WITH h AS (SELECT doc_id, md5('shard:' || doc_id::VARCHAR) AS h
           FROM documents),
s AS (SELECT doc_id, h,
             (CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8)::INT AS shard_id
      FROM h)
SELECT doc_id, shard_id,
       (row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id)
        - 1)::BIGINT AS pos_in_shard
FROM s
""")
def shard_export(spark, sf_dir):
    """Deterministic shuffle-and-shard for training export (r5): the
    (shard_id, pos_in_shard) assignment of EVERY doc must be identical
    across engines — md5-prefix mod for the shard, full-md5 rank
    within it. Per-shard windows keep the sort parallel (no global
    ORDER BY task)."""
    out = textops.shard_export(_docs(spark, sf_dir), n_shards=8)
    return out.select("doc_id", "shard_id",
                      F.col("pos_in_shard").cast("long").alias("pos_in_shard"))


@_q("doc_fingerprint", """
SELECT doc_id,
       md5(array_to_string(list_filter(string_split(text, ' '), t -> t <> ''), ' ')) AS fingerprint
FROM documents
""")
def doc_fingerprint(spark, sf_dir):
    return textops.doc_fingerprints(_docs(spark, sf_dir))


@_q("lang_id", """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
hits AS (
  SELECT d.doc_id,
         coalesce(sum(CASE WHEN t.term IN ('the','and','of','to','is') THEN 1 ELSE 0 END), 0)::INT AS hits_en,
         coalesce(sum(CASE WHEN t.term IN ('der','die','und','das','ist') THEN 1 ELSE 0 END), 0)::INT AS hits_de,
         coalesce(sum(CASE WHEN t.term IN ('le','la','et','les','est') THEN 1 ELSE 0 END), 0)::INT AS hits_fr,
         coalesce(sum(CASE WHEN t.term IN ('el','la','los','que','es') THEN 1 ELSE 0 END), 0)::INT AS hits_es
  FROM documents d LEFT JOIN toks t USING (doc_id) GROUP BY d.doc_id
)
SELECT doc_id,
       CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) <= 0 THEN 'und'
            WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
            WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
            WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
            ELSE 'es' END AS pred_lang,
       hits_en, hits_de, hits_fr, hits_es
FROM hits
""")
def lang_id(spark, sf_dir):
    return textops.lang_id(_docs(spark, sf_dir))


# ---- similarity search -----------------------------------------------------

ANN_QUERY_IDS = [0, 1, 2]


@_q("ann_cosine_topk", f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
dots AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         sum(e.v * q.v) AS dot,
         sqrt(sum(e.v * e.v)) AS ne, sqrt(sum(q.v * q.v)) AS nq
  FROM flat e JOIN flat q USING (i)
  WHERE q.vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)}) AND e.vec_id <> q.vec_id
  GROUP BY q.vec_id, e.vec_id
),
ranked AS (
  SELECT query_id, vec_id, round(dot / (ne * nq), 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dot / (ne * nq), 6) DESC, vec_id) AS rank
  FROM dots
)
SELECT query_id, rank::INT AS rank, vec_id, cosine FROM ranked WHERE rank <= 5
""")
def ann_cosine(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    return (ann.cosine_topk(emb, ANN_QUERY_IDS, k=5)
            .select(F.col("query_id").cast("long").alias("query_id"),
                    "rank", "vec_id", "cosine"))


@_q("dedup_embedding_cosine", f"""
WITH aug_emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
  FROM embeddings WHERE vec_id < 150
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> x::DOUBLE + 0.1)
  FROM embeddings WHERE vec_id < 20
),
flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding) AS v
  FROM aug_emb
),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         sum(a.v * b.v) AS dot,
         sqrt(sum(a.v * a.v)) AS na, sqrt(sum(b.v * b.v)) AS nb
  FROM flat a JOIN flat b USING (i)
  WHERE a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT vec_a, vec_b, round(dot / (na * nb), 6) AS cosine
FROM dots WHERE round(dot / (na * nb), 6) >= 0.5
""")
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (the dense analog of MinHash
    dedup): exact pairwise cosine above threshold on a bounded slice —
    at scale the LSH bucketing in ann.py generates the candidate pairs
    first and this exact check verifies them. Planted shifted copies
    (+0.1 per dim, cosine ~0.98 on this data) keep the entry
    non-vacuous: random embeddings alone have no pairs above 0.5."""
    base = (_read(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") < 150)
            .select("vec_id",
                    F.transform("embedding",
                                lambda x: x.cast("double")).alias("embedding")))
    planted = (_read(spark, sf_dir, "embeddings")
               .where(F.col("vec_id") < 20)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.transform("embedding",
                                   lambda x: x.cast("double") + F.lit(0.1))
                       .alias("embedding")))
    emb = base.unionByName(planted)
    a, b = emb.alias("a"), emb.alias("b")
    pair = (a.crossJoin(b)
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.round(ann.cosine_expr(F.col("a.embedding"), F.col("b.embedding")), 6)
                    .alias("cosine")))
    return pair.where(F.col("cosine") >= 0.5)


# The +-1 hyperplanes are md5-parity-derived (ann._planes): plane(t,p,d)
# = +1 iff byte0 of md5("t:p:d") is even, i.e. iff its SECOND hex char
# is even — directly expressible in SQL, so the whole multi-table LSH
# path (signature -> bucket join -> exact re-rank) gets a real oracle.
@_q("ann_lsh_topk", f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
planes AS (
  SELECT t.i AS tbl, p.i AS p, d.i AS d,
         CASE WHEN (strpos('0123456789abcdef',
                           substr(md5(t.i::VARCHAR || ':' || p.i::VARCHAR || ':' || d.i::VARCHAR), 2, 1)) - 1) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS w
  FROM range(0, 8) t(i), range(0, 4) p(i), range(0, 64) d(i)
),
dots AS (
  SELECT f.vec_id, pl.tbl, pl.p, sum(f.v * pl.w) AS dot
  FROM flat f JOIN planes pl USING (d)
  GROUP BY f.vec_id, pl.tbl, pl.p
),
sigs AS (
  SELECT vec_id, tbl,
         string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
  FROM dots GROUP BY vec_id, tbl
),
q AS (SELECT vec_id AS query_id, tbl, sig FROM sigs
      WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})),
cand AS (
  SELECT DISTINCT q.query_id, s.vec_id
  FROM sigs s JOIN q USING (tbl, sig)
  WHERE s.vec_id <> q.query_id
),
pairdot AS (
  SELECT c.query_id, c.vec_id,
         sum(e.v * qv.v) AS dot,
         sqrt(sum(e.v * e.v)) AS ne, sqrt(sum(qv.v * qv.v)) AS nq
  FROM cand c
  JOIN flat e ON e.vec_id = c.vec_id
  JOIN flat qv ON qv.vec_id = c.query_id AND qv.d = e.d
  GROUP BY c.query_id, c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, round(dot / (ne * nq), 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dot / (ne * nq), 6) DESC, vec_id) AS rank
  FROM pairdot
)
SELECT query_id, rank::INT AS rank, vec_id, cosine FROM ranked WHERE rank <= 5
""")
def ann_lsh(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    # n_planes pinned to the oracle's 4-bit signatures (the library
    # default derives ~sqrt-scale planes from the corpus size)
    return (ann.lsh_cosine_topk(emb, ANN_QUERY_IDS, k=5, n_planes=4)
            .select(F.col("query_id").cast("long").alias("query_id"),
                    "rank", "vec_id", "cosine"))


@_q("ann_ivf_topk", f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cid FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
),
cflat AS (SELECT c.cid, f.i, f.v FROM cents c JOIN flat f ON f.vec_id = c.cid),
ccos AS (
  SELECT f.vec_id, c.cid,
         round(sum(f.v * c.v)
               / (sqrt(sum(f.v * f.v)) * sqrt(sum(c.v * c.v))), 6) AS c
  FROM flat f JOIN cflat c USING (i)
  GROUP BY f.vec_id, c.cid
),
assigned AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cid) AS rn
    FROM ccos) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cid) AS rn
    FROM ccos WHERE vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)}))
  WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM assigned a JOIN probe p USING (cell)
  WHERE a.vec_id <> p.query_id
),
pairdot AS (
  SELECT c.query_id, c.vec_id,
         sum(e.v * q.v) AS dot,
         sqrt(sum(e.v * e.v)) AS ne, sqrt(sum(q.v * q.v)) AS nq
  FROM cand c
  JOIN flat e ON e.vec_id = c.vec_id
  JOIN flat q ON q.vec_id = c.query_id AND q.i = e.i
  GROUP BY c.query_id, c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, round(dot / (ne * nq), 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dot / (ne * nq), 6) DESC, vec_id) AS rank
  FROM pairdot
)
SELECT query_id, rank::INT AS rank, vec_id, cosine FROM ranked WHERE rank <= 5
""")
def ann_ivf(spark, sf_dir):
    """IVF-Flat ANN (ann.ivf_topk): deterministic md5-sampled centroids,
    shuffle-free nearest-cell assignment (broadcast-literal argmax over
    ROUNDED cosines so Spark's ordered fold and DuckDB's group sum agree),
    nprobe=4 of 16 cells probed, exact re-rank inside them."""
    emb = _read(spark, sf_dir, "embeddings")
    return (ann.ivf_topk(emb, ANN_QUERY_IDS, k=5, n_centroids=16, nprobe=4)
            .select(F.col("query_id").cast("long").alias("query_id"),
                    "rank", "vec_id", "cosine"))


# ---- generic relational operators over the TPC-H-ish tables ---------------
# (SURVEY.md §2 mappings: A2 ordered concat, §2.5 windows, J2 broadcast
# join, A6 order-preserving dedup, P filters/projections, F8 json)


@_q("user_event_concat", """
SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_id) AS events_concat
FROM events GROUP BY user_id
""")
def user_event_concat(spark, sf_dir):
    ev = _events(spark, sf_dir)
    parts = F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type")))
    return (ev.groupBy("user_id")
            .agg(F.concat_ws(",", F.transform(parts, lambda x: x["event_type"]))
                 .alias("events_concat")))


@_q("window_topk_per_group", """
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
  FROM events
)
SELECT event_type, rank::INT AS rank, event_id, value FROM ranked WHERE rank <= 3
""")
def window_topk(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (ev.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("event_type", "rank", "event_id", "value"))


@_q("join_agg_orders_customers", """
SELECT c.c_mktsegment, count(*)::BIGINT AS n_orders,
       round(sum(o.o_totalprice), 2) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""")
def join_agg(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


@_q("dedup_first_event", """
WITH ranked AS (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_type, event_id AS first_event_id FROM ranked WHERE rn = 1
""")
def dedup_first_event(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", F.col("event_id").alias("first_event_id")))


@_q("filter_project_lineitem", """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue
FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45
""")
def filter_project(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45))
            .select("l_orderkey", "l_linenumber",
                    F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
                    .alias("revenue")))


@_q("tpch_q1_style", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


@_q("json_extract_props", """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
FROM events
""")
def json_extract(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select("event_id",
                     F.get_json_object("props", "$.k").cast("int").alias("k_val"))


@_q("delete_antijoin", """
SELECT lang, count(*)::BIGINT AS n_docs
FROM documents WHERE doc_id NOT IN (1, 2, 3, 5, 8, 13)
GROUP BY lang
""")
def delete_antijoin(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    tomb = docs.sparkSession.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 8, 13)], "doc_id long")
    return (docs.join(F.broadcast(tomb), "doc_id", "left_anti")
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")))


# ---- windowing / sessionization / misc relational (SURVEY.md §2.5-2.8) ----


@_q("running_last_nonnull", """
SELECT event_id,
       last_value(nullif(event_type, 'error') IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
FROM events
""")
def running_last_nonnull(spark, sf_dir):
    """A1 analog: running most-recent valid value (title grouping uses
    exactly this shape, /root/reference/service/splitter.py:110-126)."""
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = F.last(F.nullif(F.col("event_type"), F.lit("error")),
                     ignorenulls=True).over(w)
    return ev.select("event_id", carried.alias("carried"))


@_q("sessionize_events", """
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT event_id,
       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_idx
FROM g
""")
def sessionize_events(spark, sf_dir):
    """Sessionization: lag(ts) + cumulative sum over gap > 30 min."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")  # NTZ -> epoch (UTC session)
    gap = secs - F.lag(secs).over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (ev.withColumn("new_sess", new_sess)
            .select("event_id",
                    F.sum("new_sess").over(wsum).alias("session_idx")))


@_q("rollup_orders", """
SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def rollup_orders(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


@_q("pivot_event_counts", """
SELECT user_id,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error
FROM events GROUP BY user_id
""")
def pivot_event_counts(spark, sf_dir):
    ev = _events(spark, sf_dir)
    aggs = [F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
            for t in ["click", "view", "purchase", "signup", "error"]]
    return ev.groupBy("user_id").agg(*aggs)


@_q("asof_signup_before_purchase", """
SELECT p.event_id, max(s.ts) AS last_signup_ts
FROM events p JOIN events s
  ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
""")
def asof_join(spark, sf_dir):
    """As-of join analog (no native Spark op): equi-join on the entity
    key + range predicate + max-agg (SURVEY.md §2.3 note)."""
    ev = _events(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    s = ev.where(F.col("event_type") == "signup").alias("s")
    return (p.join(s, (F.col("s.user_id") == F.col("p.user_id"))
                   & (F.col("s.ts") <= F.col("p.ts")))
            .groupBy(F.col("p.event_id").alias("event_id"))
            .agg(F.max(F.col("s.ts")).alias("last_signup_ts")))


@_q("value_percentiles", """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(avg(value), 6) AS mean
FROM events GROUP BY event_type
""")
def value_percentiles(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.avg("value"), 6).alias("mean"))


@_q("events_by_hour", """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       count(*)::BIGINT AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1
""")
def events_by_hour(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (ev.groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                     "yyyy-MM-dd HH").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("total_value")))


@_q("users_without_purchase", """
SELECT DISTINCT user_id FROM events
WHERE user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'purchase')
""")
def users_without_purchase(spark, sf_dir):
    """Set op / anti-join (§2.7 delete analog)."""
    ev = _events(spark, sf_dir)
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return (ev.select("user_id").distinct()
            .join(buyers, "user_id", "left_anti"))


@_q("delete_candidate_count", """
SELECT count(*)::BIGINT AS n_candidates FROM documents WHERE source = 'src1'
""")
def delete_candidate_count(spark, sf_dir):
    """A4: exact count of delete candidates before deletion
    (/root/reference/vectordbs/qdrant.py:99-109)."""
    return (_docs(spark, sf_dir).where(F.col("source") == "src1")
            .agg(F.count(F.lit(1)).alias("n_candidates")))


@_q("multi_join_q3_style", """
SELECT c.c_mktsegment, o.o_orderpriority,
       count(*)::BIGINT AS n_lines,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_mktsegment, o.o_orderpriority
""")
def multi_join_q3(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


# ---- the real index + WAND, checked against SQL ---------------------------

_INDEX_CACHE: dict[str, object] = {}


# deterministic synthetic crawl timestamp (the webtext warc_ts analog):
# docs spread over 2026's first 365 days by doc_id
_SYNTH_TS = ("timestamp'2026-01-01 00:00:00' + make_interval(0, 0, 0, "
             "cast(doc_id % 365 AS int), 0, 0, 0)")


def _indexed_engine(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) a real compressed index over the documents
    table, treating 'doc://{doc_id}' as the url."""
    key = os.path.abspath(sf_dir)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    import hashlib
    import tempfile

    from .query.engine import BM25Engine

    idx_dir = os.path.join(
        tempfile.gettempdir(),
        "srs_contract_idx_" + hashlib.sha1(key.encode()).hexdigest()[:10])
    eng = BM25Engine(spark, idx_dir)
    manifest_ok = False
    if os.path.exists(os.path.join(idx_dir, "manifest.json")):
        m = eng.store.read_manifest()
        # meta_cols check invalidates stale cached indexes (doc_stats
        # must carry lang for the filtered-meta entry and the synthetic
        # crawl timestamp for the recency entry)
        manifest_ok = (m.get("version") == 5
                       and m.get("meta_cols") == ["lang", "ts"])
        if not manifest_ok:
            import shutil
            shutil.rmtree(idx_dir, ignore_errors=True)
    if not manifest_ok:
        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
            "text", "lang", F.expr(_SYNTH_TS).alias("ts"))
        eng.build(docs, n_buckets=8, salt_df_threshold=200,
                  meta_cols=("lang", "ts"))
    if not eng.store.has_positions():  # r4 sidecar (also upgrades a
        # cached pre-r4 index in place — same corpus, same epoch)
        from .index.positions import build_positions

        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text")
        build_positions(spark, docs, idx_dir)
    from .index.vocab import vocab_depth

    if (not eng.store.has_vocab()  # r4 fuzzy sidecar; r5: depth 2 so
            # both the max_dist=1 entries (depth-2 rows are a strict
            # superset; verify still filters dist<=1) and the r5
            # max_dist=2 entry run off one sidecar
            or vocab_depth(eng.store, eng.store.epoch()) < 2):
        from .index.vocab import build_vocab

        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text")
        build_vocab(spark, docs, idx_dir, depth=2)
    _INDEX_CACHE[key] = eng
    return eng


@_q("index_wand_topk", _bm25_sql([BM25_QUERIES[1]]))
def index_wand_topk(spark, sf_dir):
    """Block-max WAND over the compressed on-disk index, mapped back to
    table doc_ids — must equal plain-SQL BM25 exactly."""
    eng = _indexed_engine(spark, sf_dir)
    qid, qtext = BM25_QUERIES[1]
    hits = eng.topk(qtext, k=10, use_wand=True)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = [
        (qid, rank, int(doc_stats[d].split("doc://")[1]), round(s, 6))
        for rank, (d, s) in enumerate(hits, start=1)
    ]
    return spark.createDataFrame(rows, "query_id int, rank int, doc_id long, score double")


@_q("bm25_topk_filtered", _bm25_sql([BM25_QUERIES[1]], cand_where="lang = 'en'"))
def bm25_topk_filtered(spark, sf_dir):
    """Metadata-filtered top-k through the DISTRIBUTED plan (P7,
    /root/reference/service/router.py:43-45): the dict filter is
    compiled to a Column, candidates are semi-joined BEFORE scoring,
    and the driver never collects the candidate set
    (driver_filter_max=0 forces the scale path)."""
    from .index.build import doc_id_expr

    eng = _indexed_engine(spark, sf_dir)
    meta = (_docs(spark, sf_dir)
            .select(F.concat(F.lit("doc://"), F.col("doc_id")).alias("_u"),
                    F.col("doc_id").alias("table_doc_id"), "lang")
            .select(doc_id_expr("_u").alias("doc_id"), "table_doc_id", "lang"))
    qid, qtext = BM25_QUERIES[1]
    out = eng.search(
        qtext, k=10, docs_meta=meta,
        where={"must": [{"key": "lang", "match": {"value": "en"}}]},
        driver_filter_max=0)
    return out.select(F.lit(qid).alias("query_id"), "rank",
                      F.col("table_doc_id").alias("doc_id"),
                      F.round("score", 6).alias("score"))


@_q("index_segment_topk", _bm25_sql([BM25_QUERIES[3]]))
def index_segment_topk(spark, sf_dir):
    """Top-k over an index assembled as base-build (90% of docs) plus a
    SEGMENT-MODE append of the remaining 10% (index/merge.py
    mode=\"segment\": the delta lands as Lucene-style seg files, no old
    group decoded). Scores must equal plain-SQL BM25 over the WHOLE
    corpus — segment appends are score-exact, not approximate."""
    import hashlib
    import shutil
    import tempfile

    from .index.merge import merge_append
    from .query.engine import BM25Engine

    key = os.path.abspath(sf_dir)
    ckey = "seg:" + key
    if ckey in _INDEX_CACHE:
        eng = _INDEX_CACHE[ckey]
    else:
        idx_dir = os.path.join(
            tempfile.gettempdir(),
            "srs_contract_segidx_" + hashlib.sha1(key.encode()).hexdigest()[:10])
        shutil.rmtree(idx_dir, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
            "text", F.col("doc_id").alias("tid"))
        eng = BM25Engine(spark, idx_dir)
        eng.build(docs.where(F.col("tid") % 10 < 9).drop("tid"),
                  n_buckets=8, salt_df_threshold=200)
        merge_append(spark, idx_dir, docs.where(F.col("tid") % 10 == 9).drop("tid"),
                     mode="segment")
        eng = BM25Engine(spark, idx_dir)
        _INDEX_CACHE[ckey] = eng
    qid, qtext = BM25_QUERIES[3]
    hits = eng.topk(qtext, k=10, method="wand")
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = [
        (qid, rank, int(doc_stats[d].split("doc://")[1]), round(s, 6))
        for rank, (d, s) in enumerate(hits, start=1)
    ]
    return spark.createDataFrame(rows, "query_id int, rank int, doc_id long, score double")


@_q("bm25_topk_filtered_wand", _bm25_sql([BM25_QUERIES[1]], cand_where="lang = 'en'"))
def bm25_topk_filtered_wand(spark, sf_dir):
    """The same metadata-filtered top-k through the DISTRIBUTED WAND
    plan (r3): candidates cogroup into their own (query, salt-range)
    tasks, so block skipping survives the broad filter. Must be
    rank-identical to the exhaustive filtered plan (same SQL oracle as
    bm25_topk_filtered)."""
    from .index.build import doc_id_expr

    eng = _indexed_engine(spark, sf_dir)
    meta = (_docs(spark, sf_dir)
            .select(F.concat(F.lit("doc://"), F.col("doc_id")).alias("_u"),
                    F.col("doc_id").alias("table_doc_id"), "lang")
            .select(doc_id_expr("_u").alias("doc_id"), "table_doc_id", "lang"))
    qid, qtext = BM25_QUERIES[1]
    out = eng.search(
        qtext, k=10, docs_meta=meta, method="wand",
        where={"must": [{"key": "lang", "match": {"value": "en"}}]},
        driver_filter_max=0)
    return out.select(F.lit(qid).alias("query_id"), "rank",
                      F.col("table_doc_id").alias("doc_id"),
                      F.round("score", 6).alias("score"))


@_q("bm25_topk_filtered_meta", _bm25_sql([BM25_QUERIES[3]], cand_where="lang = 'en'"))
def bm25_topk_filtered_meta(spark, sf_dir):
    """Metadata-filtered top-k with NO caller-side metadata table (r5):
    the index was built with ``meta_cols=('lang',)`` so doc_stats
    itself carries the filter column — ``where`` compiles against the
    index's own doc table (engine.search docs_meta default) and the
    candidate semi-join runs entirely off index files. This is the
    100 TB shape: query-time filtering must not re-read the corpus.
    Also exercises the bare-condition filter form (no must/ wrapper)."""
    eng = _indexed_engine(spark, sf_dir)
    qid, qtext = BM25_QUERIES[3]
    out = eng.search(
        qtext, k=10,
        where={"key": "lang", "match": {"value": "en"}},
        driver_filter_max=0)
    return out.select(
        F.lit(qid).alias("query_id"), "rank",
        F.split(F.col("url"), "doc://").getItem(1).cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"))


@_q("bm25_topk_page2", _bm25_sql([BM25_QUERIES[1]], offset=10))
def bm25_topk_page2(spark, sf_dir):
    """search_after pagination (r5, the Lucene/ES cursor device): page
    1's last (score, doc_id) becomes the cursor; page 2 is the next 10
    hits strictly after it in the global order — must equal global
    ranks 11-20 renumbered, with no deep top-20 window."""
    eng = _indexed_engine(spark, sf_dir)
    qid, qtext = BM25_QUERIES[1]
    page1 = eng.topk(qtext, k=10)
    page2 = eng.topk_after(qtext, k=10, after=page1[-1])
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = [
        (qid, rank, int(doc_stats[d].split("doc://")[1]), round(s, 6))
        for rank, (d, s) in enumerate(page2, start=1)
    ]
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


@_q("federated_topk", _bm25_sql([BM25_QUERIES[2]]))
def federated_topk(spark, sf_dir):
    """Sharded serving (r5): the documents table split into TWO
    independently built shard indexes; federated BM25 with global
    stats (n_docs / avgdl / df summed across shards) must equal
    plain-SQL BM25 over the WHOLE corpus — shard layout is a serving
    topology, not a semantics change (query/federated.py)."""
    import hashlib
    import shutil
    import tempfile

    from .query.engine import BM25Engine
    from .query.federated import FederatedEngine

    key = os.path.abspath(sf_dir)
    ckey = "fed:" + key
    if ckey in _INDEX_CACHE:
        fed = _INDEX_CACHE[ckey]
    else:
        base = os.path.join(
            tempfile.gettempdir(),
            "srs_contract_fedidx_" + hashlib.sha1(key.encode()).hexdigest()[:10])
        shutil.rmtree(base, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
            "text", F.col("doc_id").alias("tid"))
        dirs = []
        for i in (0, 1):
            d = os.path.join(base, f"shard{i}")
            BM25Engine(spark, d).build(
                docs.where(F.col("tid") % 2 == i).drop("tid"),
                n_buckets=8, salt_df_threshold=200)
            dirs.append(d)
        fed = FederatedEngine(spark, dirs)
        _INDEX_CACHE[ckey] = fed
    qid, qtext = BM25_QUERIES[2]
    hits = fed.topk(qtext, k=10)
    url_by_id = {}
    for s in fed.shards:
        url_by_id.update(
            (r["doc_id"], r["url"])
            for r in s.store.doc_stats(spark).collect())
    rows = [
        (qid, rank, int(url_by_id[d].split("doc://")[1]), round(sc, 6))
        for rank, (d, sc) in enumerate(hits, start=1)
    ]
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


WEIGHTED_QUERY = (0, {"stream": 2.0, "batch": 0.5, "window": 1.0})


@_q("bm25_topk_weighted", _bm25_weighted_sql([WEIGHTED_QUERY], msm=2))
def bm25_topk_weighted(spark, sf_dir):
    """Boosted + minimum-should-match retrieval (r5, the Lucene
    BooleanQuery analog): per-clause ``term^w`` boosts multiply each
    term's BM25 contribution, and msm=2 drops docs matching only one of
    the three query terms before ranking. Runs the DRIVER fast path
    (engine.weighted_topk); tests assert rank identity with the
    distributed plan (score_query_batch boosts/msm)."""
    eng = _indexed_engine(spark, sf_dir)
    qid, weights = WEIGHTED_QUERY
    hits = eng.weighted_topk("stream^2 batch^0.5 window", k=10, msm=2)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = [
        (qid, rank, int(doc_stats[d].split("doc://")[1]), round(s, 6))
        for rank, (d, s) in enumerate(hits, start=1)
    ]
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


MLT_SRC_DOC = 7


@_q("more_like_this", _mlt_sql(MLT_SRC_DOC))
def more_like_this(spark, sf_dir):
    """Lucene MoreLikeThis analog (r5): the source doc's top-10 terms
    by tf·idf — tf from one source row, idf from the index's
    term_stats metadata (driver read, no corpus pass) — run as an
    OR-bag through the budget-gated BM25 path, source doc excluded."""
    eng = _indexed_engine(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text")
    hits = eng.more_like_this(docs, url=f"doc://{MLT_SRC_DOC}", k=10)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = [
        (0, rank, int(doc_stats[d].split("doc://")[1]), round(s, 6))
        for rank, (d, s) in enumerate(hits, start=1)
    ]
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


@_q("index_tiered_topk", _bm25_sql([BM25_QUERIES[4]]))
def index_tiered_topk(spark, sf_dir):
    """Top-k over an index assembled as base build (80%) + TWO
    segment-mode appends (10% each) + compact_tail (r3 tiered
    compaction: both append segments fold into one, the base segment is
    never decoded). Scores must equal plain-SQL BM25 over the whole
    corpus — tiered folds are score-exact."""
    import hashlib
    import shutil
    import tempfile

    from .index.merge import compact_tail, merge_append
    from .query.engine import BM25Engine

    key = os.path.abspath(sf_dir)
    ckey = "tier:" + key
    if ckey in _INDEX_CACHE:
        eng = _INDEX_CACHE[ckey]
    else:
        idx_dir = os.path.join(
            tempfile.gettempdir(),
            "srs_contract_tieridx_" + hashlib.sha1(key.encode()).hexdigest()[:10])
        shutil.rmtree(idx_dir, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
            "text", F.col("doc_id").alias("tid"))
        eng = BM25Engine(spark, idx_dir)
        eng.build(docs.where(F.col("tid") % 10 < 8).drop("tid"),
                  n_buckets=8, salt_df_threshold=200)
        merge_append(spark, idx_dir, docs.where(F.col("tid") % 10 == 8).drop("tid"),
                     mode="segment")
        merge_append(spark, idx_dir, docs.where(F.col("tid") % 10 == 9).drop("tid"),
                     mode="segment")
        compact_tail(spark, idx_dir)
        eng = BM25Engine(spark, idx_dir)
        assert int(eng.manifest["n_segments"]) == 2
        _INDEX_CACHE[ckey] = eng
    qid, qtext = BM25_QUERIES[4]
    hits = eng.topk(qtext, k=10, method="wand")
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = [
        (qid, rank, int(doc_stats[d].split("doc://")[1]), round(s, 6))
        for rank, (d, s) in enumerate(hits, start=1)
    ]
    return spark.createDataFrame(rows, "query_id int, rank int, doc_id long, score double")


def _typo(term: str) -> str:
    """Deterministic ONE-edit typo (a last-two-char swap is distance 2
    under classic Levenshtein — the r4 first draft's mistake): long
    terms lose their last char (deletion), mid-length get it replaced
    (substitution), short ones gain one (insertion) — all three edit
    classes exercised across the query set."""
    if len(term) >= 6:
        return term[:-1]
    if len(term) >= 4:
        return term[:-1] + "x"
    return term + "x"


FUZZY_QUERIES = [(qid, " ".join(_typo(t) for t in text.split()))
                 for qid, text in BM25_QUERIES]


def _fuzzy_sql(queries: list[tuple[int, str]], k: int = 10) -> str:
    """SymSpell-correction + BM25 oracle: the misspelled query terms'
    deletion neighborhoods equi-join the vocabulary's, levenshtein<=1
    verifies, the (distance, df DESC, term) winner per term feeds the
    standard BM25 tail. Mirrors engine.fuzzy_topk / index/vocab.py."""
    vals = ", ".join(f"({qid}, '{t}')" for qid, qtext in queries
                     for t in sorted(set(analysis.tokenize(qtext))))
    return f"""
WITH {_TOKS_SQL},
q(query_id, qterm) AS (VALUES {vals}),
qv AS (SELECT query_id, qterm,
              unnest(list_append(list_transform(range(1, length(qterm) + 1),
                     i -> substr(qterm, 1, i - 1) || substr(qterm, i + 1)),
                     qterm)) AS variant
       FROM q),
vv AS (SELECT term, df,
              unnest(list_append(list_transform(range(1, length(term) + 1),
                     i -> substr(term, 1, i - 1) || substr(term, i + 1)),
                     term)) AS variant
       FROM dfreq),
fcand AS (SELECT DISTINCT query_id, qterm, term, df FROM qv JOIN vv USING (variant)),
okc AS (SELECT query_id, qterm, term, df, levenshtein(qterm, term) AS dist
        FROM fcand WHERE levenshtein(qterm, term) <= 1),
best AS (SELECT query_id, term FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id, qterm
                    ORDER BY dist, df DESC, term) AS rn FROM okc)
         WHERE rn = 1),
cq AS (SELECT DISTINCT query_id, term FROM best),
contrib AS (
  SELECT cq.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM cq JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@_q("fuzzy_topk", _fuzzy_sql(FUZZY_QUERIES))
def fuzzy_topk_entry(spark, sf_dir):
    """Typo-tolerant search (engine.fuzzy_topk over the vocabulary
    sidecar): every reference query's terms get a deterministic
    one-edit typo (transpose last two chars / append 'x'); the
    SymSpell deletion-neighborhood join + levenshtein verify must pick
    the same corrections as the oracle and the corrected BM25 top-k
    must hash-match."""
    eng = _indexed_engine(spark, sf_dir)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = []
    for qid, qtext in FUZZY_QUERIES:
        for rank, (d, s) in enumerate(eng.fuzzy_topk(qtext, k=10), start=1):
            rows.append((qid, rank, int(doc_stats[d].split("doc://")[1]),
                         round(s, 6)))
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


FUZZY2_QUERIES = [(qid, " ".join(t + "xq" for t in text.split()))
                  for qid, text in BM25_QUERIES[:3]]


def _fuzzy2_sql(queries: list[tuple[int, str]], k: int = 10) -> str:
    """max_dist=2 correction oracle — deliberately a FULL levenshtein
    scan of the vocabulary (no deletion neighborhood), so it verifies
    the engine's depth-2 SymSpell recall independently: if the depth-2
    neighborhood join missed any distance<=2 candidate the full-scan
    winner would differ and the entry would hash-mismatch. Winner rule
    (dist, df DESC, term) and BM25 tail mirror _fuzzy_sql."""
    vals = ", ".join(f"({qid}, '{t}')" for qid, qtext in queries
                     for t in sorted(set(analysis.tokenize(qtext))))
    return f"""
WITH {_TOKS_SQL},
q(query_id, qterm) AS (VALUES {vals}),
okc AS (SELECT q.query_id, q.qterm, d.term, d.df,
               levenshtein(q.qterm, d.term) AS dist
        FROM q JOIN dfreq d ON levenshtein(q.qterm, d.term) <= 2),
best AS (SELECT query_id, term FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id, qterm
                    ORDER BY dist, df DESC, term) AS rn FROM okc)
         WHERE rn = 1),
cq AS (SELECT DISTINCT query_id, term FROM best),
contrib AS (
  SELECT cq.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM cq JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@_q("fuzzy_topk2", _fuzzy2_sql(FUZZY2_QUERIES))
def fuzzy_topk2_entry(spark, sf_dir):
    """Distance-2 typo tolerance (engine.fuzzy_topk(max_dist=2) over
    the depth-2 vocabulary sidecar): every query term carries a
    two-insertion typo ('xq' appended); the depth-2 neighborhood join
    must pick the same corrections as a FULL-vocabulary levenshtein
    scan."""
    eng = _indexed_engine(spark, sf_dir)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = []
    for qid, qtext in FUZZY2_QUERIES:
        for rank, (d, s) in enumerate(
                eng.fuzzy_topk(qtext, k=10, max_dist=2), start=1):
            rows.append((qid, rank, int(doc_stats[d].split("doc://")[1]),
                         round(s, 6)))
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


SUGGEST_PREFIXES = [(0, "ta"), (1, "s"), (2, "c"), (3, "b")]


@_q("suggest_topk", f"""
WITH {_TOKS_SQL},
p(prefix_id, prefix) AS (VALUES {", ".join(f"({i}, '{s}')" for i, s in SUGGEST_PREFIXES)}),
cand AS (SELECT p.prefix_id, d.term, d.df
         FROM dfreq d JOIN p ON d.term LIKE p.prefix || '%'),
ranked AS (SELECT prefix_id, term, df,
                  row_number() OVER (PARTITION BY prefix_id
                                     ORDER BY df DESC, term) AS rank
           FROM cand)
SELECT prefix_id, rank::INT AS rank, term, df
FROM ranked WHERE rank <= 10
""")
def suggest_topk_entry(spark, sf_dir):
    """Prefix autocomplete (index/vocab.suggest_batch over the
    vocabulary sidecar's identity rows): top-10 vocabulary completions
    per prefix by document frequency — the suggest-as-you-type surface.
    df and ranking must hash-match the corpus-derived oracle."""
    from .index.vocab import suggest_batch

    eng = _indexed_engine(spark, sf_dir)
    return suggest_batch(spark, eng.store, SUGGEST_PREFIXES, k=10)


def _snippet_sql(queries: list[tuple[int, str]], width: int = 20,
                 k: int = 10) -> str:
    """BM25 top-k hits -> best query-term window per hit (anchor at a
    match; max occurrences in [pos, pos+width), earliest on ties)."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, qtext in queries
        for t in sorted(set(analysis.tokenize(qtext))))
    return f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {vals}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored),
hits AS (SELECT query_id, doc_id FROM ranked WHERE rank <= {k}),
tk AS (SELECT d.doc_id, list_filter(string_split(d.text, ' '), x -> x <> '') AS ts
       FROM documents d JOIN (SELECT DISTINCT doc_id FROM hits) h USING (doc_id)),
pt AS (SELECT doc_id, unnest(range(1, len(ts) + 1)) AS pos, unnest(ts) AS term
       FROM tk),
m AS (SELECT h.query_id, p.doc_id, p.pos
      FROM pt p JOIN q USING (term)
      JOIN hits h ON h.doc_id = p.doc_id AND h.query_id = q.query_id),
wnd AS (SELECT a.query_id, a.doc_id, a.pos, count(*)::BIGINT AS n_matches
        FROM m a JOIN m b ON b.query_id = a.query_id AND b.doc_id = a.doc_id
                          AND b.pos >= a.pos AND b.pos < a.pos + {width}
        GROUP BY a.query_id, a.doc_id, a.pos),
best AS (SELECT query_id, doc_id, pos, n_matches FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
                     ORDER BY n_matches DESC, pos) AS rn FROM wnd)
         WHERE rn = 1)
SELECT b.query_id, b.doc_id, b.n_matches,
       array_to_string(t.ts[b.pos:b.pos + {width - 1}], ' ') AS snippet
FROM best b JOIN tk t USING (doc_id)
"""


def _highlight_sql(queries: list[tuple[int, str]], width: int = 20,
                   k: int = 10, n_fragments: int = 2) -> str:
    """The multi-fragment marked variant (ES highlight): greedy
    non-overlapping windows, unrolled — best_1, then best_2 over the
    anchors at least ``width`` away, ... — every query-term occurrence
    <em>-wrapped."""
    base = _snippet_sql(queries, width, k)
    head = base[:base.index("best AS (")]
    frags = ["""best1 AS (SELECT query_id, doc_id, pos, n_matches, 1 AS fragment FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
                     ORDER BY n_matches DESC, pos) AS rn FROM wnd)
         WHERE rn = 1)"""]
    prev_rem = "wnd"
    for i in range(2, n_fragments + 1):
        frags.append(f"""rem{i} AS (SELECT w.query_id, w.doc_id, w.pos, w.n_matches
         FROM {prev_rem} w LEFT JOIN best{i - 1} b
           ON b.query_id = w.query_id AND b.doc_id = w.doc_id
         WHERE b.pos IS NULL OR abs(w.pos - b.pos) >= {width})""")
        frags.append(f"""best{i} AS (SELECT query_id, doc_id, pos, n_matches, {i} AS fragment FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
                     ORDER BY n_matches DESC, pos) AS rn FROM rem{i})
         WHERE rn = 1)""")
        prev_rem = f"rem{i}"
    union = " UNION ALL ".join(f"SELECT * FROM best{i}"
                               for i in range(1, n_fragments + 1))
    return head + ",\n".join(frags) + f""",
allb AS ({union}),
qt AS (SELECT query_id, list(DISTINCT term) AS qt FROM q GROUP BY query_id)
SELECT b.query_id, b.doc_id, b.fragment, b.n_matches,
       array_to_string(list_transform(t.ts[b.pos:b.pos + {width - 1}],
         x -> CASE WHEN list_contains(qt.qt, x)
                   THEN '<em>' || x || '</em>' ELSE x END), ' ') AS snippet
FROM allb b JOIN tk t USING (doc_id) JOIN qt ON qt.query_id = b.query_id
"""


@_q("search_snippets", _snippet_sql(BM25_QUERIES[:3]))
def search_snippets(spark, sf_dir):
    """Result highlighting (query/snippet.snippets): for each BM25
    top-10 hit, the 20-token window with the most query-term
    occurrences (earliest on ties) — the excerpt a user-facing search
    API returns with each hit. String-hash-compared against the SQL
    oracle's window selection."""
    from .query.snippet import snippets

    qs = BM25_QUERIES[:3]
    hits = _bm25_scored(spark, sf_dir, qs, k=10)
    return snippets(_docs(spark, sf_dir).select("doc_id", "text"),
                    hits, qs, width=20)


@_q("search_highlight", _highlight_sql(BM25_QUERIES[:3], n_fragments=2))
def search_highlight(spark, sf_dir):
    """Multi-fragment marked highlighting (ES highlight analog,
    query/snippet.snippets n_fragments=2 mark=True): up to two greedy
    non-overlapping 20-token windows per hit, query-term occurrences
    <em>-wrapped — markup and window selection both hash-compared."""
    from .query.snippet import snippets

    qs = BM25_QUERIES[:3]
    hits = _bm25_scored(spark, sf_dir, qs, k=10)
    return snippets(_docs(spark, sf_dir).select("doc_id", "text"),
                    hits, qs, width=20, n_fragments=2, mark=True)


def _map_index_ids(spark: SparkSession, eng, res):
    """Map a distributed result frame's ENGINE doc_ids (sha1 of the
    'doc://{table_id}' url) back to table doc_ids via doc_stats."""
    ds = eng.store.doc_stats(spark).select(
        "doc_id",
        F.split("url", "doc://").getItem(1).cast("long").alias("tid"))
    return (res.join(ds, "doc_id")
            .select("query_id", "rank", F.col("tid").alias("doc_id"),
                    F.round("score", 6).alias("score")))


@_q("boolean_topk_index", _boolean_sql(BOOLEAN_QUERIES))
def boolean_topk_index(spark, sf_dir):
    """Index-backed DISTRIBUTED boolean retrieval (r4,
    query/boolean.py score_boolean_batch): the whole AND/OR/NOT batch is
    one pruned-postings pass + one shuffle — membership is a per-doc
    STEP-BITMASK predicate, scoring a term-ascending sum — and the plan
    never touches the corpus. Same SQL oracle as boolean_topk."""
    eng = _indexed_engine(spark, sf_dir)
    return _map_index_ids(spark, eng, eng.boolean_batch(BOOLEAN_QUERIES, k=10))


@_q("phrase_topk_index", _phrase_sql(PHRASE_QUERIES))
def phrase_topk_index(spark, sf_dir):
    """Index-backed DISTRIBUTED phrase search (r4, query/phrase.py
    score_phrase_batch): conjunctive candidates come from decoded
    postings (one shuffle); the corpus is touched only to verify
    adjacency on candidates. Same SQL oracle as phrase_topk."""
    eng = _indexed_engine(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text")
    return _map_index_ids(
        spark, eng, eng.phrase_batch(PHRASE_QUERIES, docs, k=10))


@_q("phrase_topk_slop_index", _phrase_sql(PHRASE_SLOP_QUERIES, slop=1))
def phrase_topk_slop_index(spark, sf_dir):
    """Proximity (slop=1) variant of phrase_topk_index."""
    eng = _indexed_engine(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text")
    return _map_index_ids(
        spark, eng, eng.phrase_batch(PHRASE_SLOP_QUERIES, docs, k=10, slop=1))


@_q("phrase_topk_positions", _phrase_sql(PHRASE_QUERIES))
def phrase_topk_positions(spark, sf_dir):
    """INDEX-ONLY distributed phrase search (r4 positional sidecar,
    index/positions.py): adjacency is chain-matched against stored
    delta-varint position runs — the corpus is never opened. Same SQL
    oracle as phrase_topk/phrase_topk_index."""
    eng = _indexed_engine(spark, sf_dir)
    return _map_index_ids(
        spark, eng, eng.phrase_batch(PHRASE_QUERIES, None, k=10))


@_q("phrase_topk_slop_positions", _phrase_sql(PHRASE_SLOP_QUERIES, slop=1))
def phrase_topk_slop_positions(spark, sf_dir):
    """Proximity (slop=1) variant of phrase_topk_positions: each gap
    admits <=1 extra token, i.e. position delta in [1, 2]."""
    eng = _indexed_engine(spark, sf_dir)
    return _map_index_ids(
        spark, eng, eng.phrase_batch(PHRASE_SLOP_QUERIES, None, k=10, slop=1))


def _pii_sql_pat(py_pat: str) -> str:
    """Python regex literal -> single-quoted-SQL RE2 literal. DuckDB
    single-quoted strings are escape-free, so the pattern passes
    through verbatim (patterns are chosen to parse identically under
    Java regex and RE2 and contain no single quotes)."""
    assert "'" not in py_pat
    return py_pat


# deterministic per-doc plants: one of EVERY pii class plus an
# out-of-range quad (999.x) that the octet-bounded IPv4 rule must SKIP
_PII_AUG_SQL = """
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR || '@example.com or 10.'
              || (doc_id % 200)::VARCHAR || '.0.' || ((doc_id * 7) % 250)::VARCHAR
              || ' ssn ' || (100 + doc_id % 900)::VARCHAR || '-'
              || (10 + doc_id % 90)::VARCHAR || '-' || (1000 + doc_id % 9000)::VARCHAR
              || ' call (' || (200 + doc_id % 800)::VARCHAR || ') '
              || (200 + (doc_id * 3) % 800)::VARCHAR || '-'
              || (1000 + (doc_id * 11) % 9000)::VARCHAR
              || ' key sk_' || substr(md5(doc_id::VARCHAR), 1, 20)
              || ' not an ip 999.' || (doc_id % 9)::VARCHAR || '.2.3' AS text
  FROM documents
"""


def _pii_progressive_cols() -> str:
    """SQL mirror of textops.pii_scrub's PROGRESSIVE counting (ADVICE
    r4): class i is counted on the text after passes 1..i-1 replaced,
    so each n_* equals the tags that pass actually inserted; the final
    nested chain is the scrubbed text itself."""
    cols, cur = [], "text"
    for name, pat, tag in textops._PII_PASSES:
        cols.append(f"len(regexp_extract_all({cur}, "
                    f"'{_pii_sql_pat(pat)}'))::INT AS n_{name}s")
        cur = f"regexp_replace({cur}, '{_pii_sql_pat(pat)}', '{tag}', 'g')"
    cols.append(f"md5({cur}) AS scrubbed_md5")
    return ",\n       ".join(cols)


@_q("pii_scrub", f"""
WITH aug AS ({_PII_AUG_SQL})
SELECT doc_id,
       {_pii_progressive_cols()}
FROM aug
""")
def pii_scrub(spark, sf_dir):
    """Training-data PII redaction (textops.pii_scrub, r4-hardened):
    an email, SSN, phone, bounded IPv4, secret key AND an out-of-range
    999.x quad (which the octet rule must leave alone) are planted
    deterministically per doc (the raw corpus has none — the
    augmentation makes the check non-vacuous, r1 lesson), then scrubbed
    by pure Catalyst regexp exprs; per-class counts and the full
    scrubbed text are hash-compared against DuckDB's RE2."""
    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com or 10."),
            (F.col("doc_id") % 200).cast("string"), F.lit(".0."),
            ((F.col("doc_id") * 7) % 250).cast("string"),
            F.lit(" ssn "), (F.col("doc_id") % 900 + 100).cast("string"),
            F.lit("-"), (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit("-"), (F.col("doc_id") % 9000 + 1000).cast("string"),
            F.lit(" call ("), (F.col("doc_id") % 800 + 200).cast("string"),
            F.lit(") "), ((F.col("doc_id") * 3) % 800 + 200).cast("string"),
            F.lit("-"), ((F.col("doc_id") * 11) % 9000 + 1000).cast("string"),
            F.lit(" key sk_"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 20),
            F.lit(" not an ip 999."), (F.col("doc_id") % 9).cast("string"),
            F.lit(".2.3"),
        ).alias("text"))
    return textops.pii_scrub(aug).drop("scrubbed")


@_q("decontaminate", """
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
btk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM bench),
bsh AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(ts) - 6, 1)),
                                        i -> array_to_string(ts[i:i+7], ' '))) AS shingle
  FROM btk WHERE len(ts) >= 8
),
tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ts) - 6, 1)),
                               i -> array_to_string(ts[i:i+7], ' '))) AS shingle
  FROM tk WHERE len(ts) >= 8
),
hits AS (SELECT DISTINCT doc_id FROM sh JOIN bsh USING (shingle))
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM hits)
ORDER BY d.doc_id
""")
def decontaminate(spark, sf_dir):
    """Train/eval overlap scrub (textops.decontaminate): every doc
    sharing an 8-gram shingle with the planted eval slice (doc_id % 50
    == 0 — the eval docs ARE corpus members, so the check is
    non-vacuous: at minimum they remove themselves) is dropped; the
    surviving doc_id set is compared exactly."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    return (textops.decontaminate(docs, bench, n=8)
            .select("doc_id").orderBy("doc_id"))


_HYBRID_ANN_SQL = """
flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
hdots AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         sum(e.v * q.v) AS dot,
         sqrt(sum(e.v * e.v)) AS ne, sqrt(sum(q.v * q.v)) AS nq
  FROM flat e JOIN flat q USING (i)
  WHERE q.vec_id = 0 AND e.vec_id <> q.vec_id
  GROUP BY q.vec_id, e.vec_id
),
ann_r AS (
  SELECT query_id, vec_id, round(dot / (ne * nq), 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dot / (ne * nq), 6) DESC, vec_id) AS rank
  FROM hdots
)"""


@_q("hybrid_rrf_topk", f"""
WITH bm AS (SELECT * FROM ({_bm25_sql([BM25_QUERIES[0]], k=20).strip()}) b),
{_HYBRID_ANN_SQL.strip()},
u AS (
  SELECT query_id, doc_id, 1.0 / (60 + rank) AS rrf FROM bm
  UNION ALL
  SELECT query_id, vec_id AS doc_id, 1.0 / (60 + rank) AS rrf
  FROM ann_r WHERE rank <= 20
),
fused AS (
  SELECT query_id, doc_id, round(sum(rrf), 9) AS rrf_score
  FROM u GROUP BY query_id, doc_id
),
r AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
)
SELECT query_id, rank::INT AS rank, doc_id, rrf_score FROM r WHERE rank <= 10
""")
def hybrid_rrf(spark, sf_dir):
    """Hybrid search (hybrid.rrf_fuse): reciprocal-rank fusion of the
    exact BM25 top-20 and the exact cosine-ANN top-20 for query 0
    (embeddings.vec_id == documents.doc_id in the fixture tables) —
    the Spark-native analog of the reference's dense-retrieve + rerank
    composition. RRF contributions are 1/(60+rank); the 2-term double
    sum is order-independent (IEEE addition is commutative), so the
    fused scores hash-match DuckDB exactly."""
    from . import hybrid

    bm = _bm25_scored(spark, sf_dir, [BM25_QUERIES[0]], k=20)
    emb = _read(spark, sf_dir, "embeddings")
    ann_r = (ann.cosine_topk(emb, [0], k=20)
             .select("query_id", "rank", F.col("vec_id").alias("doc_id")))
    return hybrid.rrf_fuse([bm, ann_r], k=10)


@_q("lm_perplexity", """
WITH arr AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
             FROM documents),
tok AS (SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS pos FROM arr),
uni AS (SELECT t, count(*)::BIGINT AS c FROM tok GROUP BY t),
n_uni AS (SELECT count(*)::BIGINT AS n FROM tok),
pr AS (SELECT doc_id, t AS t1, lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
       FROM tok),
pairs AS (SELECT doc_id, t1, t2 FROM pr WHERE t2 IS NOT NULL),
bi AS (SELECT t1, t2, count(*)::BIGINT AS c_ab FROM pairs GROUP BY t1, t2),
contrib AS (
  SELECT p.doc_id,
         -ln(0.9 * (bi.c_ab::DOUBLE / ua.c) + 0.1 * (ub.c::DOUBLE / nu.n)) AS nll
  FROM pairs p JOIN bi USING (t1, t2)
  JOIN uni ua ON ua.t = p.t1 JOIN uni ub ON ub.t = p.t2
  CROSS JOIN n_uni nu)
SELECT doc_id, count(*)::INT AS n_trans, round(avg(nll), 6) AS avg_nll,
       round(exp(avg(nll)), 6) AS ppl
FROM contrib GROUP BY doc_id
""")
def lm_perplexity_entry(spark, sf_dir):
    """Corpus-trained interpolated-bigram LM perplexity per doc
    (textops.lm_perplexity) — the CCNet-style quality signal; lam=0.9
    mirrored by the 0.9/0.1 literals in the oracle."""
    return textops.lm_perplexity(_docs(spark, sf_dir), lam=0.9)


@_q("contamination_overlap", """
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
btk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM bench),
bsh AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(ts) - 6, 1)),
                                        i -> array_to_string(ts[i:i+7], ' '))) AS shingle
  FROM btk WHERE len(ts) >= 8
),
tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ts) - 6, 1)),
                               i -> array_to_string(ts[i:i+7], ' '))) AS shingle
  FROM tk WHERE len(ts) >= 8
),
per AS (SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
               count(b.shingle)::BIGINT AS n_hit
        FROM sh LEFT JOIN bsh b ON sh.shingle = b.shingle
        GROUP BY sh.doc_id)
SELECT d.doc_id, coalesce(p.n_shingles, 0)::INT AS n_shingles,
       coalesce(p.n_hit, 0)::INT AS n_hit,
       round(coalesce(p.n_hit::DOUBLE / p.n_shingles, 0.0), 6) AS overlap_frac
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
""")
def contamination_overlap_entry(spark, sf_dir):
    """Graded contamination report (textops.contamination_overlap):
    per-doc fraction of distinct 8-gram shingles shared with the
    planted eval slice (doc_id % 50 == 0 — eval docs are corpus
    members, so they self-report overlap 1.0 and the check is
    non-vacuous)."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    return textops.contamination_overlap(docs, bench, n=8)


@_q("host_stats", f"""
WITH u AS (SELECT doc_id, {_SYNTH_URL} AS url, text FROM documents),
h AS (SELECT regexp_replace(lower(regexp_extract(url,
                 '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/:?#]*)', 1)),
             '^www\\.', '') AS host,
             len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS ntok,
             text
      FROM u),
t AS (SELECT count(*)::BIGINT AS n FROM documents)
SELECT host, count(*)::BIGINT AS n_docs,
       count(DISTINCT text)::BIGINT AS n_unique_texts,
       sum(ntok)::BIGINT AS total_tokens,
       round(avg(ntok), 6) AS avg_tokens,
       round(count(*) / (SELECT n FROM t)::DOUBLE, 6) AS doc_share
FROM h GROUP BY host
""")
def host_stats_entry(spark, sf_dir):
    """Domain-mixing table (textops.host_stats): per-host doc counts,
    unique-text counts, token totals, and corpus share over the
    deterministic synthetic URLs (7 hosts after canonical host
    extraction)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", F.expr(_SYNTH_URL).alias("url"))
    return textops.host_stats(docs)


_EXPL_QID, _EXPL_QTEXT = BM25_QUERIES[1]
_EXPL_VALS = ", ".join(
    f"({_EXPL_QID}, '{t}')" for t in sorted(set(analysis.tokenize(_EXPL_QTEXT))))
_SCORED_CTE = f"""
q(query_id, term) AS (VALUES {_EXPL_VALS}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id)"""


@_q("collapse_topk", f"""
WITH {_TOKS_SQL},
{_SCORED_CTE},
x AS (SELECT s.query_id, d.lang AS key, s.doc_id, s.score,
             'doc://' || s.doc_id::VARCHAR AS url,
             row_number() OVER (PARTITION BY s.query_id, d.lang
                                ORDER BY round(s.score, 9) DESC,
                                         'doc://' || s.doc_id::VARCHAR) AS rn
      FROM scored s JOIN documents d USING (doc_id)),
r AS (SELECT query_id, key, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(score, 9) DESC, url) AS rank
      FROM x WHERE rn = 1)
SELECT query_id, rank::INT AS rank, key, doc_id, round(score, 6) AS score
FROM r WHERE rank <= 10
""")
def collapse_topk(spark, sf_dir):
    """Field-collapsed top-k (engine.collapsed_topk): best hit per
    doc_stats lang, then global top-10 — the one-result-per-site
    diversity device, run over the real index's full match set."""
    eng = _indexed_engine(spark, sf_dir)
    res = eng.collapsed_topk(_EXPL_QTEXT, k=10, by="lang")
    ds = eng.store.doc_stats(spark).select(
        "doc_id", F.split("url", "doc://").getItem(1).cast("long").alias("tid"))
    return (res.join(ds, "doc_id")
            .select(F.lit(_EXPL_QID).alias("query_id"), "rank", "key",
                    F.col("tid").alias("doc_id"),
                    F.round("score", 6).alias("score")))


@_q("recency_topk", f"""
WITH {_TOKS_SQL},
{_SCORED_CTE},
t AS (SELECT doc_id,
             TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (doc_id % 365) DAY AS ts
      FROM documents),
dec AS (SELECT s.query_id, s.doc_id, s.score,
               s.score * power(0.5, ((epoch(TIMESTAMP '2026-03-01 00:00:00')
                                      - epoch(t.ts)) / 86400.0) / 30.0) AS decayed
        FROM scored s JOIN t USING (doc_id)),
r AS (SELECT query_id, doc_id, score, decayed,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(decayed, 9) DESC,
                                         'doc://' || doc_id::VARCHAR) AS rank
      FROM dec)
SELECT query_id, rank::INT AS rank, doc_id,
       round(score, 6) AS score, round(decayed, 6) AS decayed
FROM r WHERE rank <= 10
""")
def recency_topk_entry(spark, sf_dir):
    """Recency-decayed ranking (engine.recency_topk): BM25 times a
    30-day-half-life decay on the synthetic crawl timestamp carried in
    doc_stats meta_cols; 'now' is pinned so both engines see the same
    ages."""
    eng = _indexed_engine(spark, sf_dir)
    res = eng.recency_topk(_EXPL_QTEXT, k=10, ts_col="ts",
                           now="2026-03-01 00:00:00", half_life_days=30.0)
    ds = eng.store.doc_stats(spark).select(
        "doc_id", F.split("url", "doc://").getItem(1).cast("long").alias("tid"))
    return (res.join(ds, "doc_id")
            .select(F.lit(_EXPL_QID).alias("query_id"), "rank",
                    F.col("tid").alias("doc_id"),
                    F.round("score", 6).alias("score"),
                    F.round("decayed", 6).alias("decayed")))


@_q("score_explain", f"""
WITH {_TOKS_SQL},
{_SCORED_CTE},
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT r.query_id, r.rank::INT AS rank, r.doc_id, q.term,
       tf.tf::INT AS tf, dl.dl::INT AS dl, d.df,
       round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 6) AS idf,
       round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * (tf.tf * {analysis.K1 + 1.0}) /
               (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)), 6) AS contrib,
       round(r.score, 6) AS score
FROM ranked r
JOIN q ON true
JOIN tf ON tf.doc_id = r.doc_id AND tf.term = q.term
JOIN dfreq d ON d.term = q.term
JOIN dl ON dl.doc_id = r.doc_id
CROSS JOIN stats s
WHERE r.rank <= 10
""")
def score_explain(spark, sf_dir):
    """Lucene-style explain (engine.explain_topk): the per-term BM25
    breakdown of every top-10 hit, contribution-identical to the
    scorer's own math (analysis.idf / bm25_term_score)."""
    eng = _indexed_engine(spark, sf_dir)
    rows = eng.explain_topk(_EXPL_QTEXT, k=10)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    # re-rank the hit set in table-id order (engine ties break on sha1
    # ids, the oracle on table doc_id — same device as wildcard_topk)
    hits = sorted({(r["doc_id"], r["score"]) for r in rows},
                  key=lambda x: (-round(x[1], 9),
                                 int(doc_stats[x[0]].split("doc://")[1])))
    rank_of = {d: i for i, (d, _) in enumerate(hits, start=1)}
    out = [(_EXPL_QID, rank_of[r["doc_id"]],
            int(doc_stats[r["doc_id"]].split("doc://")[1]), r["term"],
            r["tf"], r["dl"], r["df"], round(r["idf"], 6),
            round(r["contrib"], 6), round(r["score"], 6)) for r in rows]
    return spark.createDataFrame(
        out, "query_id int, rank int, doc_id long, term string, tf int,"
             " dl int, df long, idf double, contrib double, score double")


PERC_QUERIES = [
    {"query_id": 0, "text": "table scan"},               # conjunctive
    {"query_id": 1, "text": "fast query value", "msm": 2},
    {"query_id": 2, "text": "dup"},                       # rare alert
]


@_q("percolate", f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {", ".join(
    f"({q['query_id']}, '{t}')" for q in PERC_QUERIES
    for t in sorted(set(analysis.tokenize(q['text']))))}),
th(query_id, msm) AS (VALUES {", ".join(
    f"({q['query_id']}, "
    f"{int(q.get('msm', len(set(analysis.tokenize(q['text'])))))})"
    for q in PERC_QUERIES)}),
m AS (SELECT tf.doc_id, q.query_id, count(*)::BIGINT AS n_matched
      FROM q JOIN tf USING (term) GROUP BY tf.doc_id, q.query_id)
SELECT m.doc_id, m.query_id, m.n_matched
FROM m JOIN th USING (query_id) WHERE m.n_matched >= th.msm
""")
def percolate_entry(spark, sf_dir):
    """Reverse search / ES percolator (query/percolate.py): which
    stored queries fire for each doc — broadcast query table, one
    shuffle, per-query msm (default all-terms conjunctive)."""
    from .query.percolate import percolate

    return percolate(_docs(spark, sf_dir), PERC_QUERIES)


PERC_PHRASE_QUERIES = [
    {"query_id": 0, "text": "table scan"},                    # plain
    {"query_id": 1, "text": "customer join", "phrase": True},
    {"query_id": 2, "text": "window fast query", "phrase": True,
     "slop": 1},
    {"query_id": 3, "text": "fast query value", "msm": 2},
]


def _percolate_phrase_sql() -> str:
    from .query.phrase import phrase_pattern

    qvals = ", ".join(
        f"({q['query_id']}, '{t}')" for q in PERC_PHRASE_QUERIES
        for t in sorted(set(analysis.tokenize(q["text"]))))
    tvals = ", ".join(
        f"({q['query_id']}, "
        f"{int(q.get('msm', len(set(analysis.tokenize(q['text'])))))})"
        for q in PERC_PHRASE_QUERIES)
    pvals = ", ".join(
        f"({q['query_id']}, "
        f"'{phrase_pattern(analysis.tokenize(q['text']), int(q.get('slop', 0)))}', "
        f"{1 if int(q.get('slop', 0)) > 0 else 0})"
        for q in PERC_PHRASE_QUERIES if q.get("phrase"))
    return f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {qvals}),
th(query_id, msm) AS (VALUES {tvals}),
phr(query_id, pat, is_re) AS (VALUES {pvals}),
jt AS (SELECT doc_id,
              ' ' || array_to_string(list_filter(string_split(text, ' '),
                                                 x -> x <> ''), ' ') || ' '
              AS jt
       FROM documents),
m AS (SELECT tf.doc_id, q.query_id, count(*)::BIGINT AS n_matched
      FROM q JOIN tf USING (term) GROUP BY tf.doc_id, q.query_id),
fired AS (SELECT m.doc_id, m.query_id, m.n_matched
          FROM m JOIN th USING (query_id) WHERE m.n_matched >= th.msm),
plain AS (SELECT f.doc_id, f.query_id, f.n_matched
          FROM fired f LEFT JOIN phr USING (query_id)
          WHERE phr.pat IS NULL),
ver AS (SELECT f.doc_id, f.query_id, f.n_matched
        FROM fired f JOIN phr USING (query_id) JOIN jt j USING (doc_id)
        WHERE (phr.is_re = 0 AND strpos(j.jt, phr.pat) > 0)
           OR (phr.is_re = 1 AND regexp_matches(j.jt, phr.pat)))
SELECT doc_id, query_id, n_matched FROM plain
UNION ALL
SELECT doc_id, query_id, n_matched FROM ver
"""


@_q("percolate_phrase", _percolate_phrase_sql())
def percolate_phrase_entry(spark, sf_dir):
    """Percolator with phrase alerts (query/percolate.py r5): phrase
    stored-queries pre-filter conjunctively through the same one-
    shuffle bag plan, then only candidate (doc, query) pairs pay the
    joined-tokens verify (exact or slop-regex); plain and msm queries
    ride unchanged beside them."""
    from .query.percolate import percolate

    return percolate(_docs(spark, sf_dir), PERC_PHRASE_QUERIES)


_RESC_TERMS = sorted(set(analysis.tokenize(_EXPL_QTEXT)))


@_q("rescore_topk", f"""
WITH {_TOKS_SQL},
{_SCORED_CTE},
docs_l AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
occ AS (SELECT d.doc_id, t.i AS pos, d.l[t.i] AS term
        FROM docs_l d,
             LATERAL (SELECT unnest(range(1, len(d.l) + 1)) AS i) t(i)
        WHERE d.l[t.i] IN ({", ".join(f"'{t}'" for t in _RESC_TERMS)})),
starts AS (SELECT DISTINCT doc_id, pos AS s FROM occ),
cand AS (SELECT st.doc_id, st.s, o.term, min(o.pos) AS minp
         FROM starts st
         JOIN occ o ON o.doc_id = st.doc_id AND o.pos >= st.s
         GROUP BY st.doc_id, st.s, o.term),
cover AS (SELECT doc_id, s, max(minp) AS e FROM cand
          GROUP BY doc_id, s HAVING count(*) = {len(_RESC_TERMS)}),
span AS (SELECT doc_id, min(e - s + 1) AS sp FROM cover GROUP BY doc_id),
fin AS (SELECT sc.doc_id,
               sc.score + COALESCE(0.5 / (1 + sp - {len(_RESC_TERMS)}),
                                   0.0) AS final
        FROM scored sc LEFT JOIN span USING (doc_id)),
r AS (SELECT doc_id, final,
             row_number() OVER (ORDER BY round(final, 9) DESC, doc_id)
             AS rank
      FROM fin)
SELECT rank::INT AS rank, doc_id, round(final, 6) AS final
FROM r WHERE rank <= 10
""")
def rescore_topk_entry(spark, sf_dir):
    """ES-rescore analog (engine.rescore_topk): BM25 window + a
    min-cover-span proximity bonus from the positions sidecar; window
    covers the whole match set at sf0.01, so the oracle re-ranks the
    identical doc set (anchor-at-occurrence span SQL)."""
    eng = _indexed_engine(spark, sf_dir)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    hits = [(int(doc_stats[d].split("doc://")[1]), s)
            for d, s in eng.rescore_topk(_EXPL_QTEXT, k=10, window=600,
                                         weight=0.5)]
    hits.sort(key=lambda x: (-round(x[1], 9), x[0]))
    return spark.createDataFrame(
        [(rank, tid, round(s, 6))
         for rank, (tid, s) in enumerate(hits, start=1)],
        "rank int, doc_id long, final double")


WILDCARD_QUERIES = [(0, "*ow*"), (1, "s*m"), (2, "*t")]


def _wildcard_sql(patterns: list[tuple[int, str]], max_exp: int,
                  k: int = 10) -> str:
    """Wildcard oracle: '*' -> SQL LIKE '%', expansion capped to the
    top max_exp matches by (df DESC, term) — engine.wildcard_topk's
    MultiTermQuery rule — then the standard BM25 OR-bag body."""
    vals = ", ".join(f"({qid}, '{p.replace('*', '%')}')"
                     for qid, p in patterns)
    return f"""
WITH {_TOKS_SQL},
p(query_id, pat) AS (VALUES {vals}),
expanded AS (
  SELECT p.query_id, d.term, d.df,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY d.df DESC, d.term) AS rn
  FROM p JOIN dfreq d ON d.term LIKE p.pat
),
q AS (SELECT query_id, term FROM expanded WHERE rn <= {max_exp}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@_q("wildcard_topk", _wildcard_sql(WILDCARD_QUERIES, 20))
def wildcard_topk(spark, sf_dir):
    """Generalized wildcard retrieval (engine.wildcard_topk): mid-term
    '*' patterns expanded by a distributed vocab-sidecar scan, df-
    capped, then per-expansion-idf BM25 — Lucene WildcardQuery over
    the sidecar + the existing scorer."""
    eng = _indexed_engine(spark, sf_dir)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = []
    for qid, pat in WILDCARD_QUERIES:
        hits = [(int(doc_stats[d].split("doc://")[1]), s)
                for d, s in eng.wildcard_topk(pat, k=10, max_expansions=20)]
        # rank-tie attribution: the engine breaks score ties on its
        # sha1 doc ids, the oracle on table ids — re-rank the hit SET
        # in table-id order (sound because no tie group straddles the
        # k boundary for these fixed patterns; verified rank-11 scores
        # differ at sf0.01)
        hits.sort(key=lambda x: (-round(x[1], 9), x[0]))
        rows.extend((qid, rank, tid, round(s, 6))
                    for rank, (tid, s) in enumerate(hits, start=1))
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


@_q("significant_terms", f"""
WITH {_TOKS_SQL},
{_SCORED_CTE},
sample AS (SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (
        ORDER BY round(score, 9) DESC, 'doc://' || doc_id::VARCHAR) AS rn
    FROM scored) WHERE rn <= 50),
sn AS (SELECT count(*)::BIGINT AS sample_n FROM sample),
fg AS (SELECT term, count(*)::BIGINT AS fg_count
       FROM tf JOIN sample USING (doc_id)
       GROUP BY term HAVING count(*) >= 2),
j AS (SELECT f.term, f.fg_count, sn.sample_n, d.df,
             (f.fg_count::DOUBLE / sn.sample_n - d.df::DOUBLE / s.n_docs)
             * ((f.fg_count::DOUBLE / sn.sample_n)
                / (d.df::DOUBLE / s.n_docs)) AS score
      FROM fg f JOIN dfreq d USING (term)
      CROSS JOIN sn CROSS JOIN stats s),
r AS (SELECT *, row_number() OVER (ORDER BY round(score, 9) DESC, term) AS rk
      FROM j)
SELECT term, fg_count, sample_n, df, round(score, 6) AS score
FROM r WHERE rk <= 15
""")
def significant_terms_entry(spark, sf_dir):
    """ES significant_terms analog (engine.significant_terms): JLH-
    scored over-represented terms in the best-50 sample of the match
    set vs the corpus; fg tokenize touches only the sampled docs."""
    eng = _indexed_engine(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text")
    res = eng.significant_terms(_EXPL_QTEXT, docs, top=15,
                                sample_size=50, min_doc_count=2)
    return res.select("term", "fg_count", "sample_n", "df",
                      F.round("score", 6).alias("score"))


@_q("facet_stats", f"""
WITH {_TOKS_SQL},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('scan', 'table')),
j AS (SELECT m.doc_id, d.lang, dl.dl
      FROM m JOIN documents d USING (doc_id) JOIN dl USING (doc_id)),
g AS (SELECT lang AS facet, count(*)::BIGINT AS n_docs,
             min(dl)::DOUBLE AS min_v, max(dl)::DOUBLE AS max_v,
             round(avg(dl), 6) AS avg_v, sum(dl)::DOUBLE AS sum_v
      FROM j GROUP BY lang),
r AS (SELECT *, row_number() OVER (ORDER BY n_docs DESC, facet) AS rk
      FROM g)
SELECT facet, n_docs, min_v, max_v, avg_v, sum_v FROM r WHERE rk <= 10
""")
def facet_stats_entry(spark, sf_dir):
    """ES metric aggregation in facet buckets (engine.facet_stats):
    per-lang doc-length stats over the 'table scan' OR-bag match set,
    all off the index's own doc_stats."""
    eng = _indexed_engine(spark, sf_dir)
    res = eng.facet_stats(BM25_QUERIES[0][1], "dl", by="lang", top=10)
    return res.select("facet", "n_docs", "min_v", "max_v",
                      F.round("avg_v", 6).alias("avg_v"), "sum_v")


REGEXP_QUERIES = [(0, "s[a-z]*m"), (1, "[a-z]*ow"), (2, "agg|sort")]


def _regexp_sql(patterns: list[tuple[int, str]], max_exp: int,
                k: int = 10) -> str:
    """RegexpQuery oracle: full-match expansion (engine anchors with
    ^(?:...)$), df-capped, then the standard BM25 OR-bag — the
    wildcard oracle with regexp_full_match in place of LIKE."""
    vals = ", ".join(f"({qid}, '{p}')" for qid, p in patterns)
    return f"""
WITH {_TOKS_SQL},
p(query_id, pat) AS (VALUES {vals}),
expanded AS (
  SELECT p.query_id, d.term, d.df,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY d.df DESC, d.term) AS rn
  FROM p JOIN dfreq d ON regexp_full_match(d.term, p.pat)
),
q AS (SELECT query_id, term FROM expanded WHERE rn <= {max_exp}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term) JOIN dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@_q("regexp_topk", _regexp_sql(REGEXP_QUERIES, 20))
def regexp_topk_entry(spark, sf_dir):
    """Lucene RegexpQuery (engine.regexp_topk): anchored term-regex
    expansion over the vocab sidecar, df-capped, OR-bag BM25; the
    Java and RE2 dialects agree on these character-class patterns."""
    eng = _indexed_engine(spark, sf_dir)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = []
    for qid, pat in REGEXP_QUERIES:
        hits = [(int(doc_stats[d].split("doc://")[1]), s)
                for d, s in eng.regexp_topk(pat, k=10, max_expansions=20)]
        hits.sort(key=lambda x: (-round(x[1], 9), x[0]))
        rows.extend((qid, rank, tid, round(s, 6))
                    for rank, (tid, s) in enumerate(hits, start=1))
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


SYN_QTEXT = "fast query value"
SYN_MAP = {"fast": ["quick", "slow"], "value": ["key"]}


@_q("synonym_topk", f"""
WITH {_TOKS_SQL},
g(gid, term) AS (VALUES ('fast', 'fast'), ('fast', 'quick'),
                        ('fast', 'slow'), ('query', 'query'),
                        ('value', 'key'), ('value', 'value')),
gm AS (SELECT g.gid, g.term, d.df FROM g JOIN dfreq d USING (term)),
gdf AS (SELECT gid, max(df) AS df FROM gm GROUP BY gid),
blend AS (SELECT gm.gid, tf.doc_id, sum(tf.tf) AS tfb
          FROM gm JOIN tf USING (term) GROUP BY gm.gid, tf.doc_id),
contrib AS (
  SELECT b.gid, b.doc_id,
         ln((s.n_docs - gdf.df + 0.5) / (gdf.df + 0.5) + 1.0)
         * (b.tfb * {analysis.K1 + 1.0}) /
           (b.tfb + {analysis.K1} * ({1.0 - analysis.B} + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM blend b JOIN gdf USING (gid) JOIN dl USING (doc_id)
  CROSS JOIN stats s),
scored AS (SELECT doc_id, sum(c) AS score FROM contrib GROUP BY doc_id),
ranked AS (SELECT doc_id, score,
                  row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rank
           FROM scored)
SELECT rank::INT AS rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
""")
def synonym_topk_entry(spark, sf_dir):
    """Lucene-SynonymQuery retrieval (engine.synonym_topk): blended-
    frequency concept groups — member tfs sum, group idf = max member
    df; an OOV synonym ('quick') drops from its group silently."""
    eng = _indexed_engine(spark, sf_dir)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    hits = [(int(doc_stats[d].split("doc://")[1]), s)
            for d, s in eng.synonym_topk(SYN_QTEXT, SYN_MAP, k=10)]
    # rank-tie attribution: same device as wildcard_topk (hit SET
    # re-ranked in table-id order; boundary tie checked at sf0.01)
    hits.sort(key=lambda x: (-round(x[1], 9), x[0]))
    return spark.createDataFrame(
        [(rank, tid, round(s, 6))
         for rank, (tid, s) in enumerate(hits, start=1)],
        "rank int, doc_id long, score double")


@_q("pack_sequences", f"""
WITH {_TOKS_SQL},
sh AS (SELECT doc_id, dl AS n_tokens,
              md5('pack:' || doc_id::VARCHAR) AS h,
              (CAST('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 8)
                    AS BIGINT) % 8)::INT AS shard_id
       FROM dl WHERE dl > 0),
c AS (SELECT shard_id, doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (
                 PARTITION BY shard_id ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS tok_start
      FROM sh)
SELECT shard_id, doc_id, n_tokens, tok_start,
       (tok_start // 512)::BIGINT AS seq_first,
       ((tok_start + n_tokens - 1) // 512)::BIGINT AS seq_last
FROM c
""")
def pack_sequences_entry(spark, sf_dir):
    """GPT-style sequence packing (textops.pack_sequences): per-shard
    concat-and-chunk layout — deterministic md5 shuffle order, window
    cumsum token offsets, 512-token sequence spans."""
    return textops.pack_sequences(_docs(spark, sf_dir), 512, n_shards=8)


# ---- Lucene query-string search (query/qstring.py, engine method) ----------

QS_QUERIES = [
    (0, "table AND (hash OR join) -slow"),
    (1, '"customer join" OR scan^2'),
    (2, 'qu* AND -"slow hash"'),
    (3, "filte~1 AND window^1.5"),
    (4, '"window fast"~1 AND (batch OR stream)'),
    (5, "t*le AND scan"),  # mid-term wildcard leaf (r5)
]
QS_MAX_EXPANSIONS = 20


def _qs_term_pred(leaf, maxe: int) -> str:
    """Scoring/membership predicate over the term column for one
    positive leaf — expansion caps mirror the engine's deterministic
    (df DESC, term) MultiTermQuery rewrite exactly."""
    from .query import qstring as qs

    if isinstance(leaf, qs.Term):
        return f"term = '{leaf.text}'"
    if isinstance(leaf, qs.Prefix):
        inner = (f"SELECT term, row_number() OVER (ORDER BY df DESC, term)"
                 f" AS rn FROM dfreq WHERE term LIKE '{leaf.stem}%'")
        return f"term IN (SELECT term FROM ({inner}) WHERE rn <= {maxe})"
    if isinstance(leaf, qs.Wildcard):
        like = leaf.pattern.replace("*", "%")
        inner = (f"SELECT term, row_number() OVER (ORDER BY df DESC, term)"
                 f" AS rn FROM dfreq WHERE term LIKE '{like}'")
        return f"term IN (SELECT term FROM ({inner}) WHERE rn <= {maxe})"
    if isinstance(leaf, qs.Fuzzy):
        inner = (f"SELECT term, row_number() OVER (ORDER BY df DESC, term)"
                 f" AS rn FROM dfreq"
                 f" WHERE levenshtein(term, '{leaf.text}') <= {leaf.dist}")
        return f"term IN (SELECT term FROM ({inner}) WHERE rn <= {maxe})"
    if isinstance(leaf, qs.Phrase):
        terms = ", ".join(f"'{t}'" for t in sorted(set(leaf.terms)))
        return f"term IN ({terms})"
    raise TypeError(type(leaf).__name__)


def _qs_cand_sql(node, maxe: int) -> str:
    """The candidate doc-id set of a qstring AST as explicitly
    parenthesized SQL set ops (the boolean_sql_cand device generalized
    to trees; phrase leaves match on the space-joined token stream)."""
    from .query import qstring as qs
    from .query.phrase import phrase_pattern

    if isinstance(node, (qs.Term, qs.Prefix, qs.Wildcard, qs.Fuzzy)):
        return (f"SELECT DISTINCT doc_id FROM tf"
                f" WHERE {_qs_term_pred(node, maxe)}")
    if isinstance(node, qs.Phrase):
        pat = phrase_pattern(node.terms, node.slop)
        verify = (f"strpos(jt, '{pat}') > 0" if node.slop == 0
                  else f"regexp_matches(jt, '{pat}')")
        return f"SELECT doc_id FROM jt WHERE {verify}"
    if isinstance(node, qs.And):
        pos = [c for c in node.children if not isinstance(c, qs.Not)]
        neg = [c for c in node.children if isinstance(c, qs.Not)]
        sql = f"({_qs_cand_sql(pos[0], maxe)})"
        for c in pos[1:]:
            sql = f"({sql} INTERSECT ({_qs_cand_sql(c, maxe)}))"
        for c in neg:
            sql = f"({sql} EXCEPT ({_qs_cand_sql(c.child, maxe)}))"
        return f"SELECT doc_id FROM {sql} AS _s"
    if isinstance(node, qs.Or):
        sql = f"({_qs_cand_sql(node.children[0], maxe)})"
        for c in node.children[1:]:
            sql = f"({sql} UNION ({_qs_cand_sql(c, maxe)}))"
        return f"SELECT doc_id FROM {sql} AS _s"
    raise TypeError(type(node).__name__)


def _qs_positive_leaves(node) -> list:
    from .query import qstring as qs

    out = []

    def walk(n):
        if isinstance(n, (qs.Term, qs.Prefix, qs.Wildcard, qs.Fuzzy,
                          qs.Phrase)):
            out.append(n)
        elif isinstance(n, (qs.And, qs.Or)):
            for c in n.children:
                walk(c)
        # Not subtrees never score

    walk(node)
    return out


def _qstring_sql(queries: list[tuple[int, str]], maxe: int,
                 k: int = 10) -> str:
    """Oracle for query-string retrieval: per query, the candidate set
    evaluates as recursive INTERSECT/UNION/EXCEPT (phrases verify on
    the joined token stream), the scoring bag is the per-term SUM of
    positive-leaf boosts (engine's bag-merge — benign half-integral
    weights keep the float sums exact), and BM25 ranks candidates with
    GLOBAL stats."""
    from .query.qstring import parse_query_string

    bm25 = (f"ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)"
            f" * (tf.tf * {analysis.K1 + 1.0}) /"
            f" (tf.tf + {analysis.K1} * ({1.0 - analysis.B}"
            f" + {analysis.B} * dl.dl / s.avgdl))")
    ctes, finals = [], []
    for qid, qtext in queries:
        node = parse_query_string(qtext)
        legs = []
        for leaf in _qs_positive_leaves(node):
            legs.append(f"SELECT term, CAST({leaf.boost} AS DOUBLE) AS w"
                        f" FROM dfreq WHERE {_qs_term_pred(leaf, maxe)}")
        union = " UNION ALL ".join(legs)
        ctes.append(f"bag_{qid} AS (SELECT term, sum(w) AS w"
                    f" FROM ({union}) GROUP BY term)")
        ctes.append(f"""scored_{qid} AS (
  SELECT tf.doc_id, sum(b.w * ({bm25})) AS score
  FROM tf JOIN bag_{qid} b USING (term)
  JOIN dfreq d USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.doc_id IN ({_qs_cand_sql(node, maxe)})
  GROUP BY tf.doc_id)""")
        finals.append(f"""SELECT {qid} AS query_id, rank::INT AS rank, doc_id,
       round(score, 6) AS score
FROM (SELECT doc_id, score,
             row_number() OVER (ORDER BY round(score, 9) DESC, doc_id)
             AS rank
      FROM scored_{qid}) WHERE rank <= {k}""")
    jt = ("jt AS (SELECT doc_id, ' ' || array_to_string("
          "list_filter(string_split(text, ' '), x -> x <> ''), ' ')"
          " || ' ' AS jt FROM documents)")
    return (f"WITH {_TOKS_SQL}, {jt}, " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(finals))


@_q("query_string_topk", _qstring_sql(QS_QUERIES, QS_MAX_EXPANSIONS))
def query_string_topk_entry(spark, sf_dir):
    """Lucene query-string retrieval (engine.query_string_topk): the
    full DSL — parens/AND/OR/NOT precedence, phrase + slop, per-clause
    boosts, prefix and fuzzy leaves — compiled onto the index's own
    primitives (postings set algebra + sidecar expansions + positional
    phrase verify + weighted BM25 over the candidates). Rank-tie
    attribution: hit SET re-ranked in table-id order, the
    wildcard_topk/synonym_topk device."""
    eng = _indexed_engine(spark, sf_dir)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = []
    for qid, qtext in QS_QUERIES:
        hits = [(int(doc_stats[d].split("doc://")[1]), s)
                for d, s in eng.query_string_topk(
                    qtext, k=10, max_expansions=QS_MAX_EXPANSIONS)]
        hits.sort(key=lambda x: (-round(x[1], 9), x[0]))
        rows.extend((qid, rank, tid, round(s, 6))
                    for rank, (tid, s) in enumerate(hits, start=1))
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


# ---- unordered span-near (engine.span_near_topk, Lucene SpanNearQuery) -----

SPAN_QUERIES = [
    (0, "join customer", 1),
    (1, "hash table", 0),      # slop-0 unordered: adjacent in ANY order
    (2, "scan filter part", 3),
]


def _span_near_sql(queries: list[tuple[int, str, int]], k: int = 10) -> str:
    """Oracle for unordered proximity: a doc matches when SOME choice
    of one occurrence per term spans at most slop + n_terms tokens
    (greatest-least+1-n <= slop over the zipped token-position
    relation — an exact reformulation of the min-cover window test:
    the minimum over combinations clears the threshold iff some
    combination does). BM25 over the query's terms ranks survivors
    with GLOBAL stats."""
    bm25 = (f"ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)"
            f" * (tf.tf * {analysis.K1 + 1.0}) /"
            f" (tf.tf + {analysis.K1} * ({1.0 - analysis.B}"
            f" + {analysis.B} * dl.dl / s.avgdl))")
    ctes, finals = [], []
    for qid, qtext, slop in queries:
        terms = sorted(set(analysis.tokenize(qtext)))
        n = len(terms)
        joins = " ".join(
            f"JOIN tokpos p{i} ON p{i}.doc_id = p0.doc_id"
            for i in range(1, n))
        conds = " AND ".join(f"p{i}.term = '{t}'"
                             for i, t in enumerate(terms))
        poss = ", ".join(f"p{i}.pos" for i in range(n))
        ctes.append(f"""cand_{qid} AS (
  SELECT p0.doc_id FROM tokpos p0 {joins}
  WHERE {conds}
    AND greatest({poss}) - least({poss}) + 1 - {n} <= {slop}
  GROUP BY p0.doc_id)""")
        terms_in = ", ".join(f"'{t}'" for t in terms)
        ctes.append(f"""scored_{qid} AS (
  SELECT tf.doc_id, sum({bm25}) AS score
  FROM tf JOIN dfreq d USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.term IN ({terms_in})
    AND tf.doc_id IN (SELECT doc_id FROM cand_{qid})
  GROUP BY tf.doc_id)""")
        finals.append(f"""SELECT {qid} AS query_id, rank::INT AS rank, doc_id,
       round(score, 6) AS score
FROM (SELECT doc_id, score,
             row_number() OVER (ORDER BY round(score, 9) DESC, doc_id)
             AS rank
      FROM scored_{qid}) WHERE rank <= {k}""")
    tokpos = ("tokpos AS (SELECT doc_id, unnest(lst) AS term, "
              "unnest(generate_series(1, len(lst))) AS pos "
              "FROM (SELECT doc_id, list_filter(string_split(text, ' '), "
              "x -> x <> '') AS lst FROM documents))")
    return (f"WITH {_TOKS_SQL}, {tokpos}, " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(finals))


@_q("span_near_topk", _span_near_sql(SPAN_QUERIES))
def span_near_topk_entry(spark, sf_dir):
    """Unordered proximity retrieval (engine.span_near_topk): Lucene
    SpanNearQuery(inOrder=false) — min_cover_span - n <= slop over the
    positional sidecar, BM25-ranked survivors. Rank-tie attribution:
    hit SET re-ranked in table-id order (the wildcard_topk device)."""
    eng = _indexed_engine(spark, sf_dir)
    doc_stats = {r["doc_id"]: r["url"]
                 for r in eng.store.doc_stats(spark).collect()}
    rows = []
    for qid, qtext, slop in SPAN_QUERIES:
        hits = [(int(doc_stats[d].split("doc://")[1]), s)
                for d, s in eng.span_near_topk(qtext, k=10, slop=slop)]
        hits.sort(key=lambda x: (-round(x[1], 9), x[0]))
        rows.extend((qid, rank, tid, round(s, 6))
                    for rank, (tid, s) in enumerate(hits, start=1))
    return spark.createDataFrame(
        rows, "query_id int, rank int, doc_id long, score double")


# ---- sort-by-field retrieval (engine.sorted_topk, the ES sort clause) ------

_SORT_QTEXT = BM25_QUERIES[4][1]  # "stream batch window"
_SORT_TERMS_IN = ", ".join(
    f"('{t}')" for t in sorted(set(analysis.tokenize(_SORT_QTEXT))))


@_q("sorted_topk", f"""
WITH {_TOKS_SQL},
q(term) AS (VALUES {_SORT_TERMS_IN}),
matched AS (SELECT DISTINCT tf.doc_id FROM tf JOIN q USING (term)),
keyed AS (SELECT doc_id,
                 TIMESTAMP '2026-01-01 00:00:00'
                   + INTERVAL (doc_id % 365) DAY AS ts,
                 'doc://' || doc_id::VARCHAR AS url
          FROM matched),
ranked AS (SELECT doc_id, ts,
                  row_number() OVER (ORDER BY ts DESC, url ASC) AS rank
           FROM keyed)
SELECT rank::INT AS rank, doc_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS sort_value
FROM ranked WHERE rank <= 10
""")
def sorted_topk_entry(spark, sf_dir):
    """Sort-by-field retrieval (engine.sorted_topk): newest matching
    docs — the OR-bag match set ordered by the index's OWN meta_cols
    crawl timestamp (the synthetic warc_ts analog baked by
    _indexed_engine), url ASC tie-break mirrored lexicographically by
    the oracle ('doc://' || doc_id)."""
    eng = _indexed_engine(spark, sf_dir)
    out = eng.sorted_topk(_SORT_QTEXT, by="ts", k=10)
    return out.select(
        "rank",
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("long")
        .alias("doc_id"),
        F.date_format("sort_value", "yyyy-MM-dd HH:mm:ss")
        .alias("sort_value"))


# ---- temperature-based corpus mixing (textops.temperature_mix) -------------

@_q("temperature_mix", """
WITH sizes AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
zt AS (SELECT sum(pow(n, 0.3) ORDER BY lang) AS z FROM sizes),
rates AS (SELECT lang, 600 * pow(n, 0.3) / zt.z / n AS rate FROM sizes, zt),
th AS (SELECT lang, floor(rate)::BIGINT AS base,
              floor((rate - floor(rate)) * 4294967296.0)::BIGINT AS thr
       FROM rates),
hv AS (SELECT doc_id, lang,
              CAST(('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 8))
                   AS BIGINT) AS hv
       FROM documents),
nc AS (SELECT doc_id, lang,
              base + CASE WHEN hv < thr THEN 1 ELSE 0 END AS n_copies
       FROM hv JOIN th USING (lang))
SELECT doc_id, lang, unnest(generate_series(1, n_copies))::INT AS copy_id
FROM nc WHERE n_copies >= 1
""")
def temperature_mix_entry(spark, sf_dir):
    """Temperature sampling for training-mix composition
    (textops.temperature_mix, alpha=0.3, target 600 docs): shares
    flatten toward rare languages, head groups downsample by hash
    threshold, tail groups UPSAMPLE deterministically (copy_id > 1
    rows) — the exact emitted multiset must match the oracle's
    bit-identical rate arithmetic."""
    return (textops.temperature_mix(_docs(spark, sf_dir), 600, alpha=0.3)
            .select("doc_id", "lang", "copy_id"))


# ---- ranking-quality evaluation (query/rankeval.py, ES _rank_eval) ---------

_RANKEVAL_QVALS = ", ".join(
    f"({qid}, '{t}')" for qid, qtext in BM25_QUERIES
    for t in sorted(set(analysis.tokenize(qtext))))


@_q("rank_eval", f"""
WITH {_TOKS_SQL},
q(query_id, term) AS (VALUES {_RANKEVAL_QVALS}),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (tf.tf * {analysis.K1 + 1.0}) /
           (tf.tf + {analysis.K1} * ({1.0 - analysis.B}
            + {analysis.B} * dl.dl / s.avgdl)) AS c
  FROM q JOIN tf USING (term) JOIN dfreq d USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score
           FROM contrib GROUP BY query_id, doc_id),
hits AS (SELECT query_id, doc_id, rank FROM (
           SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 9) DESC, doc_id)
                  AS rank
           FROM scored) WHERE rank <= 10),
qrels AS (SELECT q.query_id, tf.doc_id,
                 count(DISTINCT tf.term)::DOUBLE AS grade
          FROM q JOIN tf USING (term) GROUP BY q.query_id, tf.doc_id),
graded AS (SELECT h.query_id, h.rank, COALESCE(r.grade, 0.0) AS grade
           FROM hits h LEFT JOIN qrels r
             ON r.query_id = h.query_id AND r.doc_id = h.doc_id),
got AS (SELECT query_id,
               sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS n_rel_hit,
               min(CASE WHEN grade > 0 THEN rank END) AS first_rel,
               sum((pow(2.0, grade) - 1.0) / log2(rank + 1.0)
                   ORDER BY rank) AS dcg
        FROM graded GROUP BY query_id),
totals AS (SELECT query_id, count(*)::BIGINT AS n_rel_total
           FROM qrels WHERE grade > 0 GROUP BY query_id),
ideal AS (SELECT query_id, grade,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY grade DESC, doc_id ASC)
                 AS rank
          FROM qrels WHERE grade > 0),
idcg AS (SELECT query_id,
                sum((pow(2.0, grade) - 1.0) / log2(rank + 1.0)
                    ORDER BY rank) AS idcg
         FROM ideal WHERE rank <= 10 GROUP BY query_id)
SELECT g.query_id,
       round(g.n_rel_hit / 10.0, 9) AS precision_k,
       round(CASE WHEN t.n_rel_total > 0
                  THEN g.n_rel_hit / t.n_rel_total::DOUBLE
                  ELSE 0.0 END, 9) AS recall_k,
       round(COALESCE(1.0 / g.first_rel, 0.0), 9) AS mrr,
       round(CASE WHEN i.idcg > 0 THEN g.dcg / i.idcg ELSE 0.0 END, 9)
       AS ndcg_k
FROM got g LEFT JOIN totals t USING (query_id)
LEFT JOIN idcg i USING (query_id)
""")
def rank_eval_entry(spark, sf_dir):
    """Ranking-quality evaluation (query/rankeval.py, the ES _rank_eval
    analog): the BM25 batch scored against graded judgments derived
    from the corpus itself (grade = distinct query terms the doc
    contains) — precision@10, recall@10, MRR, nDCG@10 per query, DCG
    folded in rank order on both engines."""
    from .query.rankeval import rank_eval

    qrows = [(qid, t) for qid, qtext in BM25_QUERIES
             for t in sorted(set(analysis.tokenize(qtext)))]
    qterms = spark.createDataFrame(qrows, "query_id int, term string")
    hits = _bm25_score_qterms(spark, sf_dir, qterms)
    qrels = (_tok_docs(spark, sf_dir)
             .join(F.broadcast(qterms), "term")
             .groupBy("query_id", "doc_id")
             .agg(F.count_distinct("term").cast("double").alias("grade")))
    return rank_eval(hits, qrels, k=10)


# ---- match counting (engine.match_count, the ES _count endpoint) -----------

_COUNT_ORBAG = BM25_QUERIES[0][1]        # "table scan"
_COUNT_BOOL = "table AND scan NOT slow"  # boolean chain variant


def _match_count_sql() -> str:
    from .query.boolean import boolean_sql_cand, parse_boolean

    orbag_in = ", ".join(
        f"'{t}'" for t in sorted(set(analysis.tokenize(_COUNT_ORBAG))))
    bool_cand = boolean_sql_cand(parse_boolean(_COUNT_BOOL))
    return f"""
WITH {_TOKS_SQL}
SELECT 'orbag' AS which,
       (SELECT count(DISTINCT doc_id) FROM tf
        WHERE term IN ({orbag_in}))::BIGINT AS n
UNION ALL
SELECT 'boolean' AS which, count(*)::BIGINT AS n
FROM ({bool_cand}) AS b
"""


@_q("match_count", _match_count_sql())
def match_count_entry(spark, sf_dir):
    """Match counting without ranking (engine.match_count — ES
    _count): the OR-bag size of 'table scan' and the set size of the
    boolean chain 'table AND scan NOT slow', both through the
    index-backed distributed match-set plan."""
    eng = _indexed_engine(spark, sf_dir)
    rows = [("orbag", eng.match_count(_COUNT_ORBAG)),
            ("boolean", eng.match_count(_COUNT_BOOL, boolean=True))]
    return spark.createDataFrame(rows, "which string, n long")


# ---- query-string percolation (query/percolate.percolate_qs) ---------------

PERC_QS_QUERIES = [
    (0, "table AND (hash OR join) -slow"),
    (1, '"customer join" OR "table scan"'),
    (2, '(fast OR slow) AND "hash batch"~1 -window'),
]


def _percolate_qs_sql() -> str:
    from .query.qstring import parse_query_string

    jt = ("jt AS (SELECT doc_id, ' ' || array_to_string("
          "list_filter(string_split(text, ' '), x -> x <> ''), ' ')"
          " || ' ' AS jt FROM documents)")
    finals = [
        f"SELECT doc_id, {qid} AS query_id"
        f" FROM ({_qs_cand_sql(parse_query_string(qtext), 1)}) AS c{qid}"
        for qid, qtext in PERC_QS_QUERIES]
    return (f"WITH {_TOKS_SQL}, {jt}\n"
            + "\nUNION ALL\n".join(finals))


@_q("percolate_qs", _percolate_qs_sql())
def percolate_qs_entry(spark, sf_dir):
    """Stored query-string ALERT TREES fired per doc
    (query/percolate.percolate_qs): parens/AND/OR/NOT + phrase leaves
    with slop, evaluated as per-(query, leaf) bitmasks folded by one
    bit_or shuffle and a vectorized numpy tree pass — which docs fire
    which alerts must match the recursive set-algebra oracle."""
    from .query.percolate import percolate_qs

    return percolate_qs(_docs(spark, sf_dir), PERC_QS_QUERIES)


# ---- filtered ANN (the reference's qdrant filtered dense search) -----------

@_q("ann_cosine_topk_filtered", f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
allowed AS (SELECT vec_id FROM embeddings WHERE label = 1),
dots AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         sum(e.v * q.v) AS dot,
         sqrt(sum(e.v * e.v)) AS ne, sqrt(sum(q.v * q.v)) AS nq
  FROM flat e JOIN flat q USING (i)
  WHERE q.vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
    AND e.vec_id <> q.vec_id
    AND e.vec_id IN (SELECT vec_id FROM allowed)
  GROUP BY q.vec_id, e.vec_id
),
ranked AS (
  SELECT query_id, vec_id, round(dot / (ne * nq), 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dot / (ne * nq), 6) DESC, vec_id)
         AS rank
  FROM dots
)
SELECT query_id, rank::INT AS rank, vec_id, cosine FROM ranked WHERE rank <= 5
""")
def ann_cosine_filtered(spark, sf_dir):
    """Metadata-filtered dense retrieval (ann.cosine_topk where= — the
    reference's qdrant filtered search, P7 applied to vectors): the
    Qdrant-style dict compiles through filters.to_column and prunes
    the candidate side BEFORE any distance math; query vectors stay
    unfiltered."""
    emb = _read(spark, sf_dir, "embeddings")
    out = ann.cosine_topk(
        emb, ANN_QUERY_IDS, k=5,
        where={"must": [{"key": "label", "match": {"value": 1}}]})
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      "rank", "vec_id", "cosine")


# ---------------------------------------------------------------- exports

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
