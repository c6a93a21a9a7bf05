"""Boolean retrieval: AND / OR / NOT set algebra over postings,
BM25-ranked — the classic fulltext query form the reference's
dense-retrieval API cannot express (/root/reference/api/query.py).

Grammar (deliberately minimal, Lucene-simplified): operands are single
tokens; operators are the literal words AND, OR, NOT; evaluation is
strictly LEFT-ASSOCIATIVE with no precedence or parentheses —
``a AND b NOT c OR d`` means ``(((a AND b) NOT c) OR d)``. An implicit
leading AND starts the chain. The SQL oracle mirrors the same shape
with explicitly parenthesized INTERSECT / EXCEPT / UNION steps (SQL's
native set-op precedence differs, so parens are load-bearing).

Ranking: BM25 over the query's POSITIVE (non-NOT) terms, restricted to
the boolean result set; corpus stats stay GLOBAL (same filtered-search
semantics as P7 and phrase search). NOT terms contribute only set
subtraction, never score.

Scale shape: per term one tf-relation lookup (against the inverted
index this is a bucket-pruned postings fetch); set steps are
distinct-doc_id joins/unions — no stage ever touches a document that
contains none of the query's terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import analysis

_OPS = ("AND", "OR", "NOT")
_OUT_SCHEMA = "query_id int, rank int, doc_id long, score double"


def parse_boolean(expr: str) -> list[tuple[str, str]]:
    """'a AND b NOT c' -> [('AND', 'a'), ('AND', 'b'), ('NOT', 'c')].
    Raises ValueError on dangling operators or multi-token operands."""
    steps: list[tuple[str, str]] = []
    op = "AND"
    pending_op = False
    for word in expr.split():
        if word in _OPS:
            if pending_op:
                raise ValueError(f"two operators in a row near {word!r}")
            op, pending_op = word, True
            continue
        toks = analysis.tokenize(word)
        if len(toks) != 1:
            raise ValueError(f"operand {word!r} is not a single token")
        steps.append((op, toks[0]))
        op, pending_op = "AND", False
    if pending_op:
        raise ValueError("query ends with a dangling operator")
    if not steps:
        raise ValueError("empty boolean query")
    if steps[0][0] == "NOT":
        raise ValueError("query cannot start with NOT")
    return steps


def boolean_sql_cand(steps: list[tuple[str, str]]) -> str:
    """The candidate set as explicitly parenthesized SQL set ops over a
    ``tf(doc_id, term, tf)`` relation (DuckDB oracle form)."""
    def leaf(t: str) -> str:
        return f"SELECT doc_id FROM tf WHERE term = '{t}'"

    sql = leaf(steps[0][1])
    for op, t in steps[1:]:
        setop = {"AND": "INTERSECT", "OR": "UNION", "NOT": "EXCEPT"}[op]
        sql = f"({sql}) {setop} ({leaf(t)})"
    return sql


def accepted_docs(spark: SparkSession, store,
                  queries: list[tuple[int, str]]) -> DataFrame:
    """The FULL accepted set of the boolean batch — (query_id, doc_id,
    parts) for every doc each query's chain admits, parts carrying the
    positive-term BM25 contributions. This is score_boolean_batch
    without the ranking tail, factored out (r5) so facet aggregation
    can consume the match set whole: facets need every matching doc,
    not a top-k. Same plan shape: one pruned-postings pass, one
    shuffle, constant-depth accept fold."""
    return _accepted_docs_impl(spark, store, queries)


def score_boolean_batch(spark: SparkSession, store, queries: list[tuple[int, str]],
                        k: int = 10) -> DataFrame:
    """Index-backed DISTRIBUTED boolean retrieval (r4 — replaces both
    the driver-side set algebra of engine.boolean_topk at scale and the
    corpus re-tokenize of the DataFrame path below).

    The trick: left-associative AND/OR/NOT over doc-id SETS is a
    POINTWISE function of per-term membership — doc ∈ result is decided
    entirely by which of the query's terms the doc contains. So the
    whole query batch needs exactly ONE pass over the (bucket- and
    term-pruned) postings and ONE shuffle:

      pruned postings scan -> mapInPandas block decode
        -> broadcast join with (query, term) rows carrying a STEP
           BITMASK (bit i = this term appears at chain position i)
        -> groupBy(query_id, doc_id):
             bit_or(step_mask)            = which steps the doc satisfies
             sorted collect_list(contrib) = BM25 parts (positive terms)
        -> per-query mask predicate: the chain is DATA, not expression —
           a broadcast (query_id, steps) table joins in and a single
           higher-order F.aggregate folds the steps over the bitmask at
           runtime, so the Catalyst tree stays CONSTANT-DEPTH no matter
           how many queries the batch carries or how long each chain is
           (r5 — the r4 form chained one F.when per query, whose
           expression depth grew linearly with batch size: fine at 30
           queries, thousands of tree nodes at the 300-1000-query
           batches the scaling leg targets)
        -> score = term-ascending sum, top-k window.

    A doc no task ever decodes (contains none of the query's terms)
    never exists in the plan; NOT terms ship their postings (set
    subtraction needs them) but contribute no score. Ranking semantics
    match boolean_topk/engine.boolean_topk exactly (tests assert).
    """
    scored = (
        _accepted_docs_impl(spark, store, queries)
        .withColumn("score", F.aggregate(
            F.filter("parts", lambda x: x["contrib"].isNotNull()),
            F.lit(0.0), lambda a, x: a + x["contrib"]))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 9).desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


_ACCEPTED_SCHEMA = ("query_id int, doc_id long, "
                    "parts array<struct<term:string,contrib:double>>")


def _accepted_docs_impl(spark: SparkSession, store,
                        queries: list[tuple[int, str]]) -> DataFrame:
    import pandas as pd

    from ..analysis import term_id_for
    from .scoring import (DECODED_SCHEMA, contribution_expr,
                          decode_postings_map_in_pandas, lookup_term_dfs,
                          pruned_postings, with_df_idf)

    manifest = store.read_manifest()
    n_docs, avgdl = int(manifest["n_docs"]), float(manifest["avgdl"])
    k1, b = float(manifest["k1"]), float(manifest["b"])
    n_buckets = int(manifest["n_buckets"])

    parsed: dict[int, list[tuple[str, str]]] = {}
    rows = []
    for qid, expr in queries:
        steps = parse_boolean(expr)
        if len(steps) > 63:
            raise ValueError("boolean chain exceeds 63 steps")
        parsed[qid] = steps
        per_term: dict[str, tuple[int, bool]] = {}
        for i, (op, t) in enumerate(steps):
            m, pos = per_term.get(t, (0, False))
            per_term[t] = (m | (1 << i), pos or op != "NOT")
        for t, (m, pos) in sorted(per_term.items()):
            rows.append({"query_id": qid, "term": t,
                         "term_id": term_id_for(t),
                         "step_mask": m, "positive": pos})
    qpdf = pd.DataFrame(rows)
    if qpdf.empty:
        return spark.createDataFrame([], _ACCEPTED_SCHEMA)
    term_ids = sorted(qpdf["term_id"].unique().tolist())
    dfs = lookup_term_dfs(store, term_ids, n_buckets, int(manifest["epoch"]))
    # OOV terms drop out: their membership bit just never sets, which is
    # exactly the empty-set semantics of the set algebra
    qpdf = with_df_idf(qpdf, dfs, n_docs)
    if qpdf.empty:
        return spark.createDataFrame([], _ACCEPTED_SCHEMA)
    qterms = spark.createDataFrame(qpdf)
    term_ids = sorted(qpdf["term_id"].unique().tolist())

    decoded = pruned_postings(spark, store, term_ids, n_buckets).mapInPandas(
        decode_postings_map_in_pandas, schema=DECODED_SCHEMA)
    tomb = store.tombstones(spark)
    if tomb is not None:
        decoded = decoded.join(F.broadcast(tomb), "doc_id", "left_anti")

    joined = (
        decoded.join(F.broadcast(qterms), "term_id")
        .withColumn("contrib", F.when(
            F.col("positive"), contribution_expr(avgdl, k1, b)))
    )
    agg = (
        joined.groupBy("query_id", "doc_id")
        .agg(F.bit_or("step_mask").alias("mask"),
             F.sort_array(F.collect_list(
                 F.struct("term", "contrib"))).alias("parts"))
    )

    # the left-associative fold as DATA: one row per query with its
    # step chain [(op, bit), ...] for steps 1..n-1 (step 0 is always
    # the implicit-AND seed, bit 1). op codes: 0=AND, 1=OR, 2=NOT.
    _OPCODE = {"AND": 0, "OR": 1, "NOT": 2}
    srows = [(qid, [(_OPCODE[op], 1 << i)
                    for i, (op, _t) in enumerate(steps) if i > 0])
             for qid, steps in parsed.items()]
    steps_df = spark.createDataFrame(
        srows, "query_id int, steps array<struct<op:int,b:long>>")

    def _hit(s):
        # outer-row reference inside the lambda is supported; mask is
        # the bit_or aggregate of this (query, doc)'s term memberships
        return F.col("mask").bitwiseAND(s["b"]) != F.lit(0)

    accept = F.aggregate(
        "steps",
        F.col("mask").bitwiseAND(F.lit(1)) != F.lit(0),  # seed: step 0
        lambda acc, s: (F.when(s["op"] == F.lit(0), acc & _hit(s))
                        .when(s["op"] == F.lit(1), acc | _hit(s))
                        .otherwise(acc & ~_hit(s))))

    return (
        agg.join(F.broadcast(steps_df), "query_id")
        .where(accept)
        .select("query_id", "doc_id", "parts")
    )


def boolean_topk(docs_df: DataFrame, queries: list[tuple[int, str]],
                 k: int = 10) -> DataFrame:
    """Top-k BM25 over each boolean query's result set.

    ``docs_df``: (doc_id, text). ``queries``: [(query_id, expr)].
    Returns (query_id, rank, doc_id, score).
    """
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

    def docs_with(term: str) -> DataFrame:
        return tf.where(F.col("term") == term).select("doc_id")

    cands = []
    qrows = []
    for qid, expr in queries:
        steps = parse_boolean(expr)
        cand = docs_with(steps[0][1])
        for op, t in steps[1:]:
            rhs = docs_with(t)
            if op == "AND":
                cand = cand.join(rhs, "doc_id", "left_semi")
            elif op == "OR":
                cand = cand.union(rhs).distinct()
            else:  # NOT
                cand = cand.join(rhs, "doc_id", "left_anti")
        cands.append(cand.withColumn("query_id", F.lit(qid)))
        for t in sorted({t for op, t in steps if op != "NOT"}):
            qrows.append((qid, t))
    all_cand = cands[0]
    for c in cands[1:]:
        all_cand = all_cand.unionByName(c)
    qterms = docs_df.sparkSession.createDataFrame(
        qrows, "query_id int, term string")

    from .scoring import collected_idf, contribution_expr

    contribs = (
        tf.join(F.broadcast(qterms), "term")
        .join(all_cand, ["query_id", "doc_id"])
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
