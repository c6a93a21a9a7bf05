"""Distributed BM25 scoring over the compressed postings table.

Replaces the reference's ANN top-k + Cohere rerank
(/root/reference/service/router.py:40-73, /root/reference/vectordbs/base.py:40-79)
with exact sparse retrieval (SURVEY.md §2.6 T1/T2).

Plan shape (batch of queries):
  postings scan (bucket partition-pruned + term row-group filtered)
    -> mapInPandas block decode (NumPy varint)      [1 -> n rows]
    -> broadcast join with query terms              [no shuffle]
    -> BM25 contribution column (pure Catalyst expr)
    -> groupBy(query_id, doc_id) deterministic sum  [the ONE shuffle]
    -> per-query top-k window                       [tiny after agg]

Determinism: contributions are collected and summed in term-ascending
order (sort_array over struct(term, contrib)) so float addition order
matches the oracle exactly; final rank orders by round(score, 9) desc,
doc_id asc (SURVEY.md §2.5).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analysis import idf, term_id_for, tokenize
from ..codec import decode_blocks_batch
from ..index.storage import IndexStorage, bucket_of_term_id

DECODED_SCHEMA = "term_id long, doc_id long, tf int, dl int"


def decode_postings_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Block rows -> exploded (term, doc_id, tf, dl) posting rows."""
    import numpy as np

    for pdf in batches:
        if not len(pdf):
            yield pd.DataFrame({c: np.array([], dtype="int64")
                                for c in ["term_id", "doc_id", "tf", "dl"]})
            continue
        blocks = pdf[["docs_enc", "tfs_enc", "dls_enc", "n"]].to_dict("records")
        docs, tfs, dls, ns = decode_blocks_batch(blocks)
        yield pd.DataFrame({
            "term_id": np.repeat(pdf["term_id"].to_numpy(), ns),
            "doc_id": docs,
            "tf": tfs.astype("int32"),
            "dl": dls.astype("int32"),
        })


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


def _bucket_dir(base: str, bucket: int) -> str:
    """The ``bucket=<bucket>`` dir of a postings or term_stats epoch dir.
    Build, merge and compaction write every bucket dir of both tables,
    so a missing one is lost data: it raises instead of reading as an
    empty bucket."""
    p = os.path.join(base, f"bucket={bucket}")
    if not os.path.isdir(p):
        raise FileNotFoundError(
            f"bucket {bucket} of {os.path.basename(base)} is missing: {p}")
    return p


def lookup_term_dfs(store: IndexStorage, term_ids: list[int],
                    n_buckets: int, epoch: int) -> dict[int, int]:
    """Driver-side df lookup from the term_stats table (v3 blocks are
    stats-free). One pyarrow read per touched bucket partition, filtered
    by term_id against sorted row groups — O(query terms), never a Spark
    job. This is why term_stats exists as its own table: a head term at
    10^12 docs has millions of block rows; its df is ONE row here."""
    import pyarrow.dataset as pads

    by_bucket: dict[int, list[int]] = {}
    for t in term_ids:
        by_bucket.setdefault(bucket_of_term_id(t, n_buckets), []).append(t)
    out: dict[int, int] = {}
    for b, ts in by_bucket.items():
        p = _bucket_dir(store.term_stats_dir_for(epoch), b)
        tbl = pads.dataset(p, format="parquet").to_table(
            filter=pads.field("term_id").isin(ts), columns=["term_id", "df"])
        out.update(zip(tbl["term_id"].to_pylist(), tbl["df"].to_pylist()))
    return out


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


def contribution_expr(avgdl: float, k1: float, b: float):
    """Catalyst mirror of the NumPy kernel (wand.bm25_contrib) and of
    analysis.bm25_term_score over the ``idf``, ``tf`` and ``dl``
    columns: same operation order and the same driver-computed idf, so
    the floats are bit-identical (tests/test_analysis.py)."""
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    return F.col("idf") * (tf * F.lit(k1 + 1.0)) / denom


def pruned_postings(spark: SparkSession, store: IndexStorage, term_ids: list[int],
                    n_buckets: int) -> DataFrame:
    """Postings scan restricted to the buckets owning the query terms
    (directory-level partition pruning) and the term ids themselves
    (parquet row-group min/max pruning — files are sorted by term_id).
    A missing bucket dir raises rather than scanning as empty."""
    buckets = sorted({bucket_of_term_id(t, n_buckets) for t in term_ids})
    epoch = store.epoch()
    for b in buckets:
        _bucket_dir(store.postings_dir_for(epoch), b)
    return (
        store.postings(spark, epoch)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term_id").isin(list(term_ids)))
    )


def scored_matches(spark: SparkSession, store: IndexStorage,
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
    manifest = store.read_manifest()
    n_docs, avgdl = int(manifest["n_docs"]), float(manifest["avgdl"])
    k1, b = float(manifest["k1"]), float(manifest["b"])
    n_buckets = int(manifest["n_buckets"])

    qterms_pdf = analyze_queries(queries)
    if qterms_pdf.empty:
        return spark.createDataFrame([], "query_id int, doc_id long, score double")
    term_ids = sorted(qterms_pdf["term_id"].unique().tolist())
    dfs = lookup_term_dfs(store, term_ids, n_buckets, int(manifest["epoch"]))
    qterms_pdf = with_df_idf(qterms_pdf, dfs, n_docs)
    if qterms_pdf.empty:  # every term OOV
        return spark.createDataFrame([], "query_id int, doc_id long, score double")
    qterms = spark.createDataFrame(qterms_pdf)
    term_ids = sorted(qterms_pdf["term_id"].unique().tolist())

    decoded = pruned_postings(spark, store, term_ids, n_buckets).mapInPandas(
        decode_postings_map_in_pandas, schema=DECODED_SCHEMA
    )

    tomb = store.tombstones(spark)
    if tomb is not None:
        decoded = decoded.join(F.broadcast(tomb), "doc_id", "left_anti")
    if candidates is not None:
        decoded = decoded.join(candidates.select("doc_id"), "doc_id", "left_semi")

    # r5 boosts: weight rides the broadcast query frame; w=1.0 keeps
    # the multiply a no-op bit-for-bit (x * 1.0 == x for finite x)
    contribs = (
        decoded.join(F.broadcast(qterms), "term_id")
        .withColumn("contrib",
                    contribution_expr(avgdl, k1, b) * F.col("weight"))
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


def score_query_batch(spark: SparkSession, store: IndexStorage,
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
    scored = scored_matches(spark, store, queries, candidates=candidates)

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


def score_query_batch_wand(spark: SparkSession, store: IndexStorage,
                           queries: list[dict], k: int = 10,
                           candidates: DataFrame | None = None) -> DataFrame:
    """Distributed block-max WAND: the query batch is the parallelism
    axis — each query's (compressed, still-encoded) blocks are grouped
    to one task, which runs the NumPy WAND scorer with full block-skip
    pruning. Compared to score_query_batch this never decodes blocks
    the threshold prunes, at the cost of shipping one query's blocks to
    one task (bounded: <=5 terms x df/BLOCK_SIZE block rows).

    ``candidates``: optional (doc_id) frame (P7 metadata filter). The
    candidate set is routed to each (query, salt-range) task via a
    cogroup — a candidate doc joins exactly its OWN range's task
    (range_id = doc_id >> shift), so block skipping survives broad
    filters instead of falling back to the exhaustive plan.

    Returns (query_id int, rank int, doc_id long, score double) —
    rank-identical to the exhaustive plan (tests assert it).
    """
    import numpy as np

    if any(q.get("boosts") or int(q.get("msm", 1)) > 1 for q in queries):
        # WAND's block upper bounds assume unweighted disjunctions;
        # boosted / msm batches must take the exhaustive plan (whose
        # per-doc fold applies both exactly)
        raise ValueError("boosts/msm require score_query_batch "
                         "(the WAND bounds don't carry weights)")

    manifest = store.read_manifest()
    n_docs, avgdl = int(manifest["n_docs"]), float(manifest["avgdl"])
    k1, b = float(manifest["k1"]), float(manifest["b"])
    n_buckets = int(manifest["n_buckets"])

    qterms_pdf = analyze_queries(queries)
    out_schema = "query_id int, rank int, doc_id long, score double"
    if qterms_pdf.empty:
        return spark.createDataFrame([], out_schema)
    term_ids = sorted(qterms_pdf["term_id"].unique().tolist())
    dfs = lookup_term_dfs(store, term_ids, n_buckets, int(manifest["epoch"]))
    qterms_pdf = with_df_idf(qterms_pdf, dfs, n_docs)
    if qterms_pdf.empty:
        return spark.createDataFrame([], out_schema)
    term_ids = sorted(qterms_pdf["term_id"].unique().tolist())

    if store.tombstones(spark) is not None:
        # pending lazy deletes change set membership below the WAND
        # threshold; use the exhaustive plan until the next merge GCs them
        return score_query_batch(spark, store, queries, k=k,
                                 candidates=candidates)

    # Distribution axis: (query_id, salt range). Salt ranges partition
    # the doc-id space into SALT_COUNT contiguous, non-overlapping
    # stripes (index/build.py salting), so per-range WAND top-k + a
    # global merge is rank-exact AND no single task ever owns a whole
    # head-term query (the round-1 bottleneck: groupBy(query_id) put
    # df/128 block rows of "the" on one executor). Blocks of unsalted
    # terms span multiple ranges and are replicated to each (bounded:
    # tail terms have few blocks); queries with NO salted term keep one
    # task (range_id=-1, no mask) — no decode-amplification for the
    # common case.
    shift = _salt_shift(manifest)
    salted_queries = set(
        qterms_pdf.loc[qterms_pdf["df"] > int(manifest["salt_df_threshold"]),
                       "query_id"].tolist())
    qterms_pdf["q_salted"] = qterms_pdf["query_id"].isin(salted_queries)
    qterms = spark.createDataFrame(qterms_pdf)

    blocks = pruned_postings(spark, store, term_ids, n_buckets)
    per_query = blocks.join(F.broadcast(qterms), "term_id")  # 1 block row per (query, term)
    ranged = per_query.withColumn(
        "range_id",
        F.explode(F.when(
            F.col("q_salted"),
            F.sequence(F.shiftright("first_doc_id", shift).cast("int"),
                       F.shiftright("last_doc_id", shift).cast("int")),
        ).otherwise(F.array(F.lit(-1)))),
    )

    def run_wand(pdf: pd.DataFrame, allowed=None) -> pd.DataFrame:
        from .wand import wand_topk

        qid = int(pdf["query_id"].iloc[0])
        range_id = int(pdf["range_id"].iloc[0])
        doc_range = None
        if range_id >= 0:
            doc_range = (range_id << shift, (range_id + 1) << shift)
        term_blocks: dict[str, tuple[int, list[dict]]] = {}
        for row in pdf.itertuples(index=False):
            term_blocks.setdefault(row.term, (int(row.df), []))[1].append({
                "docs_enc": row.docs_enc, "tfs_enc": row.tfs_enc,
                "dls_enc": row.dls_enc, "n": int(row.n),
                "seg": int(row.seg),
                "first_doc_id": int(row.first_doc_id),
                "last_doc_id": int(row.last_doc_id),
                "block_max_tf": int(row.block_max_tf),
                "block_min_dl": int(row.block_min_dl),
            })
        # wand_topk splits blocks into (term, seg) runs and sorts them
        hits = wand_topk(term_blocks, n_docs, avgdl, k, k1=k1, b=b,
                         doc_range=doc_range, allowed=allowed)
        return pd.DataFrame({
            "query_id": qid,
            "rank": np.arange(1, len(hits) + 1, dtype="int32"),
            "doc_id": [d for d, _ in hits],
            "score": [s for _, s in hits],
        })

    if candidates is None:
        # r6 direct-read plan: the former plan shuffled every block's
        # ENCODED PAYLOAD once per query using its term — a head term's
        # blocks were replicated |queries| times through the
        # scan -> broadcast-join -> groupBy exchange (~600 MB for the
        # 600-query bench batch). Tasks now read their queries' blocks
        # straight from the shared index with pyarrow (same bucket +
        # row-group pruning the driver path uses), sharing one read per
        # DISTINCT term per partition; only the (query, term) spec rows
        # (a few bytes each) are shuffled. Rank-identical: the same
        # per-(query, range) wand_topk runs on the same blocks
        # (tests/test_rank_identity.py, test_segments.py).
        spec_rows = []
        for _, r in qterms_pdf.iterrows():
            qid = int(r["query_id"])
            ranges = (range(int(manifest["salt_count"]))
                      if qid in salted_queries else (-1,))
            for rid in ranges:
                spec_rows.append((qid, int(rid), r["term"],
                                  int(r["term_id"]), int(r["df"])))
        spec = spark.createDataFrame(
            spec_rows,
            "query_id long, range_id int, term string, term_id long, df long")
        npart = max(1, min(len({(q, g) for q, g, *_ in spec_rows}),
                           int(spark.sparkContext.defaultParallelism)))
        pdir = store.postings_dir_for(int(manifest["epoch"]))

        # When the batch's total block bytes fit a broadcast budget
        # (est. ~6 B/posting), the DRIVER reads each distinct term's
        # blocks once and broadcasts them — tasks become pure WAND
        # compute with no per-task read/dict-build duplication, which
        # is what keeps the N -> 4N query-scaling ratio flat (each of
        # 4 tasks would otherwise re-read its partition's terms).
        # Over-budget batches (head terms at 10^12-doc scale) fall back
        # to per-partition reads.
        est_blk_bytes = sum(dfs[t] for t in term_ids) * 6
        bb = None
        if est_blk_bytes <= (64 << 20):
            bb = spark.sparkContext.broadcast(
                _read_blocks_by_tid(pdir, n_buckets, term_ids))

        def run_part(batches):
            from .wand import wand_topk

            pdf = pd.concat(list(batches), ignore_index=True)
            if not len(pdf):
                return
            if bb is not None:
                blocks_by_tid = bb.value
            else:
                blocks_by_tid = _read_blocks_by_tid(
                    pdir, n_buckets,
                    pdf["term_id"].drop_duplicates().tolist())
            for (qid, rid), qrows in pdf.groupby(["query_id", "range_id"]):
                doc_range = None
                if rid >= 0:
                    doc_range = (int(rid) << shift, (int(rid) + 1) << shift)
                tb: dict[str, tuple[int, list[dict]]] = {}
                for row in qrows.itertuples(index=False):
                    blist = blocks_by_tid.get(int(row.term_id))
                    if not blist:
                        continue
                    if doc_range is not None:
                        lo, hi = doc_range
                        blist = [bl for bl in blist
                                 if bl["last_doc_id"] >= lo
                                 and bl["first_doc_id"] < hi]
                        if not blist:
                            continue
                    tb[row.term] = (int(row.df), blist)
                hits = wand_topk(tb, n_docs, avgdl, k, k1=k1, b=b,
                                 doc_range=doc_range)
                yield pd.DataFrame({
                    "query_id": int(qid),
                    "rank": np.arange(1, len(hits) + 1, dtype="int32"),
                    "doc_id": [d for d, _ in hits],
                    "score": [s for _, s in hits],
                })

        per_range = (spec.repartition(npart, "query_id", "range_id")
                     .mapInPandas(run_part, schema=out_schema))
    else:
        def _empty_out():
            return pd.DataFrame({
                "query_id": np.array([], dtype="int32"),
                "rank": np.array([], dtype="int32"),
                "doc_id": np.array([], dtype="int64"),
                "score": np.array([], dtype="float64")})

        def run_wand_cg(blocks_pdf: pd.DataFrame,
                        cand_pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(blocks_pdf) or not len(cand_pdf):
                return _empty_out()  # no blocks or no candidates here
            allowed = np.unique(cand_pdf["doc_id"].to_numpy()
                                .astype(np.int64))
            return run_wand(blocks_pdf, allowed=allowed)

        # route each candidate doc to exactly the (query, range) tasks
        # that may score it: its own salt range for salted queries, the
        # -1 whole-space range for unsalted ones. The pair table is tiny
        # (<= queries x SALT_COUNT) and broadcast; the candidate frame
        # is shuffled once by the cogroup — never collected.
        salt_count = int(manifest["salt_count"])
        pair_rows = []
        for qid in qterms_pdf["query_id"].unique():
            if qid in salted_queries:
                pair_rows += [(int(qid), r) for r in range(salt_count)]
            else:
                pair_rows.append((int(qid), -1))
        pairs = spark.createDataFrame(pair_rows, "query_id long, range_id int")
        cand = candidates.select(F.col("doc_id").cast("long").alias("doc_id"))
        cand2 = cand.join(
            F.broadcast(pairs),
            (pairs["range_id"] == F.lit(-1))
            | (pairs["range_id"]
               == F.shiftright(cand["doc_id"], shift).cast("int")))
        per_range = (ranged.groupBy("query_id", "range_id")
                     .cogroup(cand2.groupBy("query_id", "range_id"))
                     .applyInPandas(run_wand_cg, schema=out_schema))
    # global merge: per-range winners are disjoint docs; re-rank is tiny
    # (<= SALT_COUNT * k rows per query)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("doc_id").asc())
    return (per_range.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


_BLK_COLS = ["term_id", "seg", "n", "first_doc_id", "last_doc_id",
             "docs_enc", "tfs_enc", "dls_enc", "block_max_tf",
             "block_min_dl"]


def _read_blocks_by_tid(pdir: str, n_buckets: int,
                        term_ids: list[int]) -> dict[int, list[dict]]:
    """Pruned pyarrow read of the given terms' block rows, grouped by
    term_id: bucket-dir pruning and a term_id filter, with no cache
    (the driver's single-query path reads through BM25Engine's term
    directory instead). Shared by the direct-read WAND batch plan
    (driver-broadcast and per-partition variants)."""
    import pyarrow.dataset as pads

    by_bucket: dict[int, list[int]] = {}
    for tid in term_ids:
        by_bucket.setdefault(int(tid) % n_buckets, []).append(int(tid))
    out: dict[int, list[dict]] = {}
    for bkt, tids in by_bucket.items():
        tbl = pads.dataset(_bucket_dir(pdir, bkt),
                           format="parquet").to_table(
            filter=pads.field("term_id").isin(tids), columns=_BLK_COLS)
        cols = {c: tbl[c].to_pylist() for c in _BLK_COLS}
        for i in range(tbl.num_rows):
            out.setdefault(cols["term_id"][i], []).append({
                "docs_enc": cols["docs_enc"][i],
                "tfs_enc": cols["tfs_enc"][i],
                "dls_enc": cols["dls_enc"][i],
                "n": cols["n"][i], "seg": cols["seg"][i],
                "first_doc_id": cols["first_doc_id"][i],
                "last_doc_id": cols["last_doc_id"][i],
                "block_max_tf": cols["block_max_tf"][i],
                "block_min_dl": cols["block_min_dl"][i],
            })
    return out


def _salt_shift(manifest: dict) -> int:
    from ..analysis import DOC_ID_BITS

    salt_count = int(manifest["salt_count"])
    return DOC_ID_BITS - (salt_count.bit_length() - 1)


def score_synonym_batch(spark: SparkSession, store: IndexStorage,
                        queries: list[dict], k: int = 10) -> DataFrame:
    """Distributed Lucene-SynonymQuery scoring: each query is a list of
    synonym GROUPS; within a group the member terms' tfs SUM per doc
    and the group idf uses the MAX member df (Lucene's blended-freq
    SynonymQuery rule — one "concept" clause, not N OR clauses), then
    groups combine like ordinary BM25 terms.

    ``queries``: [{"query_id": int, "groups": {gkey: [terms...]}}].
    Plan shape: ONE pruned-postings decode over all member terms ->
    broadcast (term_id -> group) join -> group-blend shuffle
    (sum tf per (query, group, doc)) -> per-doc sum in group-key-
    ascending order (the sort_array fold, bit-identical to the driver
    accumulation) -> top-k window. Two shuffles per batch.

    Returns (query_id int, rank int, doc_id long, score double)."""
    from ..analysis import term_id_for

    manifest = store.read_manifest()
    n_docs, avgdl = int(manifest["n_docs"]), float(manifest["avgdl"])
    k1, b = float(manifest["k1"]), float(manifest["b"])
    n_buckets = int(manifest["n_buckets"])
    empty = "query_id int, rank int, doc_id long, score double"

    rows = []
    for q in queries:
        for gkey, terms in q["groups"].items():
            for t in sorted(set(terms)):
                rows.append((int(q["query_id"]), gkey, t, term_id_for(t)))
    if not rows:
        return spark.createDataFrame([], empty)
    term_ids = sorted({tid for *_, tid in rows})
    dfs = lookup_term_dfs(store, term_ids, n_buckets,
                          int(manifest["epoch"]))
    rows = [r for r in rows if r[3] in dfs]
    if not rows:
        return spark.createDataFrame([], empty)
    df_g: dict[tuple[int, str], int] = {}
    for qid, gkey, _, tid in rows:
        key = (qid, gkey)
        df_g[key] = max(df_g.get(key, 0), dfs[tid])
    qg = spark.createDataFrame(
        [(qid, gkey, tid, idf(n_docs, df_g[(qid, gkey)]))
         for qid, gkey, _, tid in rows],
        "query_id int, gkey string, term_id long, idf double")
    term_ids = sorted({r[3] for r in rows})

    decoded = pruned_postings(spark, store, term_ids, n_buckets).mapInPandas(
        decode_postings_map_in_pandas, schema=DECODED_SCHEMA)
    tomb = store.tombstones(spark)
    if tomb is not None:
        decoded = decoded.join(F.broadcast(tomb), "doc_id", "left_anti")

    blended = (
        decoded.join(F.broadcast(qg), "term_id")
        .groupBy("query_id", "gkey", "doc_id")
        .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"),
             F.max("idf").alias("idf"))
        .withColumn("contrib", contribution_expr(avgdl, k1, b))
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
