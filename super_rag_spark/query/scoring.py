"""Distributed BM25 scoring over the compressed postings table.

Replaces the reference's ANN top-k + Cohere rerank
(/root/reference/service/router.py:40-73, /root/reference/vectordbs/base.py:40-79)
with exact sparse retrieval (SURVEY.md §2.6 T1/T2).

Every plan takes the query's Snapshot (index/storage.py) and reads
only its epoch: df through lookup_term_dfs from the snapshot's term
directory (``snap.terms``, index/termdir.py), postings and pending
tombstones through decoded_postings, the one Spark postings scan.
Neither reads the live manifest, so a merge that commits mid-plan makes
the plan raise (the old epoch's files are gone), never mix two epochs.

Plan shape (batch of queries):
  decoded_postings: postings scan of the snapshot's epoch
      (bucket partition-pruned + term row-group filtered)
    -> mapInArrow block decode (NumPy varint over   [1 -> n rows]
       the Arrow batch's binary buffers)
    -> broadcast anti-join with the pending tombstones
  -> broadcast join with query terms (df, idf)      [no shuffle]
  -> BM25 contribution column (pure Catalyst expr)
  -> groupBy(query_id, doc_id) deterministic sum    [the ONE shuffle]
  -> per-query top-k window                         [tiny after agg]

The WAND plan (score_query_batch_wand) shuffles only (query, salt
range, term) spec rows, with any filter's candidate docs beside them;
its tasks take each term's encoded blocks of the same epoch as an Arrow
record batch: a span of one compact batch the driver takes from
``snap.terms`` and broadcasts, or read through a term directory of
their own.

Determinism: contributions are collected and summed in term-ascending
order (sort_array over struct(term, contrib)) so float addition order
matches the oracle exactly; final rank orders by round(score, 9) desc,
doc_id asc (SURVEY.md §2.5).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analysis import idf, term_id_for, tokenize
from ..codec import decode_blocks_batch, encoded_blocks
from ..index.storage import Snapshot, bucket_of_term_id

DECODED_SCHEMA = "term_id long, doc_id long, tf int, dl int"

# the WAND plan's broadcast budget for its batch's blocks
WAND_BROADCAST_BYTES = 64 << 20


def decode_postings_map_in_arrow(
        batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Block rows -> exploded (term_id, doc_id, tf, dl) posting rows
    (DECODED_SCHEMA), decoded from each batch's binary buffers."""
    for batch in batches:
        docs, tfs, dls, ns = decode_blocks_batch(encoded_blocks(batch))
        yield pa.RecordBatch.from_arrays(
            [np.repeat(batch.column("term_id").to_numpy(), ns), docs,
             tfs.astype(np.int32), dls.astype(np.int32)],
            names=["term_id", "doc_id", "tf", "dl"])


def analyze_queries(queries: list[dict]) -> pd.DataFrame:
    """Driver-side query analysis (tiny): (query_id, term, term_id,
    weight) rows with duplicate terms collapsed (conjunction semantics,
    matching the oracle's set-of-terms behavior). The term string rides
    along so score summation can stay in term-ascending (oracle) order.
    A query dict may carry ``"boosts": {term: w}`` (r5 Lucene-boost
    analog); absent terms weigh 1.0."""
    rows = []
    for q in queries:
        boosts = q.get("boosts") or {}
        for term in sorted(set(tokenize(q["text"]))):
            rows.append({"query_id": q["query_id"], "term": term,
                         "term_id": term_id_for(term),
                         "weight": float(boosts.get(term, 1.0))})
    return pd.DataFrame(rows,
                        columns=["query_id", "term", "term_id", "weight"])


def doc_frame(spark: SparkSession, ids) -> DataFrame:
    """A broadcast (doc_id) frame of a small doc_id array."""
    return F.broadcast(spark.createDataFrame(
        pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64)}),
        "doc_id long"))


def _bucket_dirs(snap: Snapshot, term_ids) -> dict[int, str]:
    """bucket -> postings dir of ``snap``'s epoch, for every bucket
    owning one of ``term_ids`` (a missing dir raises, see
    IndexStorage.bucket_dir)."""
    return {b: snap.store.bucket_dir("postings", snap.epoch, b)
            for b in sorted({bucket_of_term_id(int(t), snap.n_buckets)
                             for t in term_ids})}


def lookup_term_dfs(snap: Snapshot, term_ids) -> dict[int, int]:
    """The plans' df lookup: df per term_id in ``snap``'s epoch, from
    its term directory; OOV terms are absent. Never a Spark job."""
    return snap.terms.dfs(term_ids)


def decoded_postings(spark: SparkSession, snap: Snapshot,
                     term_ids) -> DataFrame:
    """THE postings reader of the plans: the decoded (term_id, doc_id,
    tf, dl) rows of ``term_ids`` in ``snap``'s epoch, minus the
    snapshot's pending tombstones. The scan is restricted to the buckets
    owning the terms (directory-level partition pruning) and to the term
    ids themselves (parquet row-group min/max pruning — files are sorted
    by term_id). A missing bucket dir raises rather than scanning as
    empty."""
    term_ids = sorted({int(t) for t in term_ids})
    # checked before the scan is planned, which lists the epoch's dir
    buckets = list(_bucket_dirs(snap, term_ids))
    decoded = (
        snap.store.postings(spark, snap.epoch)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term_id").isin(term_ids))
        .mapInArrow(decode_postings_map_in_arrow, schema=DECODED_SCHEMA)
    )
    if len(snap.deleted):
        decoded = decoded.join(doc_frame(spark, snap.deleted), "doc_id",
                               "left_anti")
    return decoded


def with_df_idf(qterms_pdf: pd.DataFrame, dfs: dict[int, int],
                n_docs: int) -> pd.DataFrame:
    """The in-vocabulary rows of a query-term frame, with their ``df``
    and the ``idf`` that contribution_expr reads, computed on the driver
    by analysis.idf (Spark's ``log`` differs from ``math.log`` in the
    last ulp for some arguments)."""
    pdf = qterms_pdf[qterms_pdf["term_id"].isin(dfs)].copy()
    pdf["df"] = pdf["term_id"].map(dfs).astype("int64")
    pdf["idf"] = [idf(n_docs, d) for d in pdf["df"].tolist()]
    return pdf


def collected_idf(dfreq: DataFrame, qterms: DataFrame,
                  n_docs: int) -> DataFrame:
    """(term, idf) for the query terms of a corpus-scan plan, whose df
    Spark computes (``dfreq``: term, df): only the query terms' df rows
    are collected, and idf is computed on the driver as in with_df_idf."""
    rows = dfreq.join(qterms.select("term").distinct(), "term",
                      "left_semi").collect()
    return dfreq.sparkSession.createDataFrame(
        [(r["term"], idf(n_docs, int(r["df"]))) for r in rows],
        "term string, idf double")


def in_vocabulary(snap: Snapshot, qterms_pdf: pd.DataFrame) -> pd.DataFrame:
    """with_df_idf over ``snap``'s df lookup: the in-vocabulary rows of a
    query-term frame, empty when every term is OOV (or there is none)."""
    dfs = lookup_term_dfs(snap, qterms_pdf["term_id"].tolist())
    return with_df_idf(qterms_pdf, dfs, snap.n_docs)


def contribution_expr(avgdl: float, k1: float, b: float):
    """Catalyst mirror of the NumPy kernel (wand.bm25_contrib) and of
    analysis.bm25_term_score over the ``idf``, ``tf`` and ``dl``
    columns: same operation order and the same driver-computed idf, so
    the floats are bit-identical (tests/test_analysis.py)."""
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    return F.col("idf") * (tf * F.lit(k1 + 1.0)) / denom


def scored_matches(spark: SparkSession, snap: Snapshot,
                   queries: list[dict],
                   candidates: DataFrame | None = None) -> DataFrame:
    """The FULL scored match set of a query batch — every (query_id,
    doc_id, score) with at least one (post-msm) matching term, BEFORE
    any top-k window. This is the shared body of score_query_batch and
    the whole-match-set consumers (facet-style collapse, recency
    re-ranking) that must see all matches, not the first k.

    ``candidates``: optional (doc_id) frame — the metadata-filter
    pushdown analog (P7, /root/reference/service/router.py:43-45): only
    docs in the candidate set are scored (semi join BEFORE scoring, so
    the filter is exact, not a post-hoc re-rank).
    """
    qterms_pdf = in_vocabulary(snap, analyze_queries(queries))
    if qterms_pdf.empty:  # no terms, or every term OOV
        return spark.createDataFrame([], "query_id int, doc_id long, score double")

    decoded = decoded_postings(spark, snap, qterms_pdf["term_id"].tolist())
    if candidates is not None:
        decoded = decoded.join(candidates.select("doc_id"), "doc_id", "left_semi")

    # r5 boosts: weight rides the broadcast query frame; w=1.0 keeps
    # the multiply a no-op bit-for-bit (x * 1.0 == x for finite x)
    contribs = (
        decoded.join(F.broadcast(spark.createDataFrame(qterms_pdf)), "term_id")
        .withColumn("contrib", contribution_expr(snap.avgdl, snap.k1, snap.b)
                    * F.col("weight"))
    )

    scored = (
        contribs.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("parts"))
        .withColumn(
            "score",
            F.aggregate("parts", F.lit(0.0), lambda acc, x: acc + x["contrib"]),
        )
        .withColumn("n_matched", F.size("parts"))
        .drop("parts")
    )

    # r5 minimum_should_match: per-query threshold via a broadcast map
    # (no chained F.when — Catalyst depth stays constant in batch size)
    msms = {q["query_id"]: int(q.get("msm", 1)) for q in queries
            if int(q.get("msm", 1)) > 1}
    if msms:
        msm_df = spark.createDataFrame(
            [(qid, m) for qid, m in msms.items()], "query_id int, msm int")
        scored = (
            scored.join(F.broadcast(msm_df), "query_id", "left")
            .where(F.col("n_matched") >= F.coalesce(F.col("msm"), F.lit(1)))
            .drop("msm")
        )
    return scored.drop("n_matched")


def score_query_batch(spark: SparkSession, snap: Snapshot,
                      queries: list[dict], k: int = 10,
                      candidates: DataFrame | None = None,
                      after: tuple[int, float] | None = None) -> DataFrame:
    """Exact BM25 top-k for a batch of queries: scored_matches plus the
    per-query top-k window.

    ``after`` (r5 search_after pagination): a ``(doc_id, score)``
    cursor (a hit tuple of the previous page, passed as-is) — only
    docs STRICTLY after it in the global
    (round(score, 9) DESC, doc_id ASC) order are ranked, so page N+1
    costs the same one shuffle as page 1 instead of a deep top-(N*k)
    window. Applies to every query in the batch (pagination is a
    single-query device; the engine passes one).

    Returns (query_id int, rank int, doc_id long, score double).
    """
    scored = scored_matches(spark, snap, queries, candidates=candidates)

    if after is not None:
        # round the cursor with Spark's OWN round (HALF_UP) so a tied
        # score compares equal — Python round() is banker's
        a9 = F.round(F.lit(float(after[1])), 9)
        s9 = F.round(F.col("score"), 9)
        scored = scored.where(
            (s9 < a9) | ((s9 == a9) & (F.col("doc_id") > int(after[0]))))

    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def score_query_batch_wand(spark: SparkSession, snap: Snapshot,
                           queries: list[dict], k: int = 10,
                           candidates: DataFrame | None = None) -> DataFrame:
    """Distributed block-max WAND: the query batch is the parallelism
    axis — each (query, salt range) task runs the NumPy WAND scorer over
    its terms' still-encoded blocks with full block-skip pruning.
    Compared to score_query_batch this never decodes blocks the
    threshold prunes.

    Only (query, range, term) spec rows (a few bytes each) are
    shuffled. When the batch's blocks fit WAND_BROADCAST_BYTES the
    driver takes them from ``snap.terms`` and broadcasts them as one
    compact record batch; otherwise each task reads its partition's
    distinct terms' blocks once, through a term directory of its own
    over the same epoch.

    ``candidates``: optional (doc_id) frame (P7 metadata filter). Each
    candidate doc rides the same shuffle as the spec rows, routed to
    exactly the (query, range) tasks that may score it, and reaches
    wand_topk as ``allowed``, so block skipping survives broad filters.
    Pending tombstones reach it as ``deleted``.

    Returns (query_id int, rank int, doc_id long, score double) —
    rank-identical to the exhaustive plan (tests assert it).
    """
    from ..analysis import DOC_ID_BITS

    if any(q.get("boosts") or int(q.get("msm", 1)) > 1 for q in queries):
        # WAND's block upper bounds assume unweighted disjunctions;
        # boosted / msm batches must take the exhaustive plan (whose
        # per-doc fold applies both exactly)
        raise ValueError("boosts/msm require score_query_batch "
                         "(the WAND bounds don't carry weights)")

    out_schema = "query_id int, rank int, doc_id long, score double"
    qterms_pdf = in_vocabulary(snap, analyze_queries(queries))
    if qterms_pdf.empty:
        return spark.createDataFrame([], out_schema)
    term_ids = sorted(set(qterms_pdf["term_id"].tolist()))

    # Distribution axis: (query_id, salt range). Salt ranges partition
    # the doc-id space into salt_count contiguous, non-overlapping
    # stripes (index/build.py salting), so per-range WAND top-k + a
    # global merge is rank-exact AND no single task ever owns a whole
    # head-term query (the round-1 bottleneck: groupBy(query_id) put
    # df/128 block rows of "the" on one executor). Blocks of unsalted
    # terms span multiple ranges and are read by each (bounded: tail
    # terms have few blocks); queries with NO salted term keep one
    # task (range_id=-1, no mask).
    salt_count = int(snap.manifest["salt_count"])
    shift = DOC_ID_BITS - (salt_count.bit_length() - 1)
    salted = set(qterms_pdf.loc[
        qterms_pdf["df"] > int(snap.manifest["salt_df_threshold"]),
        "query_id"].tolist())
    ranges = {int(q): (range(salt_count) if q in salted else (-1,))
              for q in qterms_pdf["query_id"].unique()}
    # a spec row's doc_id is -1 (doc ids are >= 0); a candidate row has
    # no term. No long column holds a null: pandas would turn it into
    # float64, which cannot hold a 60-bit doc id or a term id
    rows = spark.createDataFrame(
        [(int(r.query_id), rid, r.term, int(r.term_id), int(r.df), -1)
         for r in qterms_pdf.itertuples(index=False)
         for rid in ranges[int(r.query_id)]],
        "query_id long, range_id int, term string, term_id long, df long,"
        " doc_id long")
    if candidates is not None:
        # each candidate doc joins its own salt range of a salted query
        # and the -1 whole-space range of an unsalted one; the pair
        # table is tiny (<= queries x salt_count) and broadcast, and the
        # candidate frame is shuffled once — never collected
        pairs = spark.createDataFrame(
            [(q, rid) for q, rids in ranges.items() for rid in rids],
            "query_id long, range_id int")
        cand = candidates.select(F.col("doc_id").cast("long").alias("doc_id"))
        rows = rows.unionByName(
            cand.join(F.broadcast(pairs),
                      (pairs["range_id"] == F.lit(-1))
                      | (pairs["range_id"]
                         == F.shiftright(cand["doc_id"], shift).cast("int")))
            .select("query_id", "range_id",
                    F.lit(None).cast("string").alias("term"),
                    F.lit(0).cast("long").alias("term_id"),
                    F.lit(0).cast("long").alias("df"), "doc_id"))
    npart = max(1, min(sum(len(r) for r in ranges.values()),
                       int(spark.sparkContext.defaultParallelism)))
    n_docs, avgdl, k1, b = snap.n_docs, snap.avgdl, snap.k1, snap.b
    # the task closure takes plain values: snap.terms does not pickle
    store, epoch, n_buckets = snap.store, snap.epoch, snap.n_buckets
    filtered = candidates is not None
    deleted = snap.deleted if len(snap.deleted) else None

    # When the batch's total block bytes fit a broadcast budget
    # (est. ~6 B/posting), the DRIVER slices each distinct term's
    # blocks once and broadcasts them — tasks become pure WAND
    # compute with no per-task read duplication, which keeps the
    # N -> 4N query-scaling ratio flat. Over-budget batches (head terms
    # at 10^12-doc scale) read per partition instead.
    # One batch of every term's rows, and each term's span of it: a take
    # (a slice of a cached row group pickles all of the row group).
    bb = None
    est_blk_bytes = int(qterms_pdf.drop_duplicates("term_id")["df"].sum()) * 6
    if est_blk_bytes <= WAND_BROADCAST_BYTES:
        by_tid = snap.terms.block_batches(term_ids)
        tbl = pa.Table.from_batches(list(by_tid.values()))
        ends = np.cumsum([b.num_rows for b in by_tid.values()]).tolist()
        bb = spark.sparkContext.broadcast((
            tbl.take(np.arange(tbl.num_rows)).combine_chunks().to_batches()[0],
            dict(zip(by_tid, zip([0] + ends[:-1], ends)))))

    def run_part(batches):
        from ..index.termdir import TermDirectory, _Cache
        from .wand import wand_topk

        # a partition the spec rows' hash left empty gets no batch
        pdf = pd.concat(list(batches) or [pd.DataFrame()], ignore_index=True)
        if not len(pdf):
            return
        is_spec = pdf["term"].notna().to_numpy()
        doc_ids = pdf["doc_id"].to_numpy()
        if bb is not None:
            rows, spans = bb.value
            blocks_by_tid = {tid: rows.slice(a, z - a)
                             for tid, (a, z) in spans.items()}
        else:
            blocks_by_tid = TermDirectory(
                store, epoch, n_buckets, _Cache()).block_batches(
                pdf.loc[is_spec, "term_id"].unique().tolist())
        groups = pdf.groupby(["query_id", "range_id"]).indices
        for (qid, rid), idx in groups.items():
            spec = idx[is_spec[idx]]
            allowed = None
            if filtered:
                allowed = np.unique(doc_ids[idx[~is_spec[idx]]])
                if not len(allowed):
                    continue  # no candidate doc in this range
            tb = {pdf.at[i, "term"]: (int(pdf.at[i, "df"]),
                                      blocks_by_tid[int(pdf.at[i, "term_id"])])
                  for i in spec.tolist()}
            doc_range = (None if rid < 0
                         else (int(rid) << shift, (int(rid) + 1) << shift))
            hits = wand_topk(tb, n_docs, avgdl, k, k1=k1, b=b,
                             doc_range=doc_range, allowed=allowed,
                             deleted=deleted)
            if hits:
                yield pd.DataFrame({
                    "query_id": np.full(len(hits), qid, dtype="int32"),
                    "rank": np.arange(1, len(hits) + 1, dtype="int32"),
                    "doc_id": np.array([d for d, _ in hits], dtype="int64"),
                    "score": np.array([s for _, s in hits], dtype="float64"),
                })

    per_range = (rows.repartition(npart, "query_id", "range_id")
                 .mapInPandas(run_part, schema=out_schema))
    # global merge: per-range winners are disjoint docs; re-rank is tiny
    # (<= salt_count * k rows per query)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("doc_id").asc())
    return (per_range.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


def score_synonym_batch(spark: SparkSession, snap: Snapshot,
                        queries: list[dict], k: int = 10) -> DataFrame:
    """Distributed Lucene-SynonymQuery scoring: each query is a list of
    synonym GROUPS; within a group the member terms' tfs SUM per doc
    and the group idf uses the MAX member df (Lucene's blended-freq
    SynonymQuery rule — one "concept" clause, not N OR clauses), then
    groups combine like ordinary BM25 terms.

    ``queries``: [{"query_id": int, "groups": {gkey: [terms...]}}].
    Plan shape: ONE decoded_postings read over all member terms ->
    broadcast (term_id -> group) join -> group-blend shuffle
    (sum tf per (query, group, doc)) -> per-doc sum in group-key-
    ascending order (the sort_array fold, bit-identical to the driver
    accumulation) -> top-k window. Two shuffles per batch.

    Returns (query_id int, rank int, doc_id long, score double)."""
    empty = "query_id int, rank int, doc_id long, score double"

    rows = []
    for q in queries:
        for gkey, terms in q["groups"].items():
            for t in sorted(set(terms)):
                rows.append((int(q["query_id"]), gkey, t, term_id_for(t)))
    if not rows:
        return spark.createDataFrame([], empty)
    dfs = lookup_term_dfs(snap, [tid for *_, tid in rows])
    rows = [r for r in rows if r[3] in dfs]
    if not rows:
        return spark.createDataFrame([], empty)
    df_g: dict[tuple[int, str], int] = {}
    for qid, gkey, _, tid in rows:
        key = (qid, gkey)
        df_g[key] = max(df_g.get(key, 0), dfs[tid])
    qg = spark.createDataFrame(
        [(qid, gkey, tid, idf(snap.n_docs, df_g[(qid, gkey)]))
         for qid, gkey, _, tid in rows],
        "query_id int, gkey string, term_id long, idf double")
    decoded = decoded_postings(spark, snap, [r[3] for r in rows])
    blended = (
        decoded.join(F.broadcast(qg), "term_id")
        .groupBy("query_id", "gkey", "doc_id")
        .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"),
             F.max("idf").alias("idf"))
        .withColumn("contrib", contribution_expr(snap.avgdl, snap.k1, snap.b))
    )
    scored = (
        blended.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("gkey", "contrib")))
             .alias("parts"))
        .withColumn("score", F.aggregate(
            "parts", F.lit(0.0), lambda acc, x: acc + x["contrib"]))
        .drop("parts")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))
