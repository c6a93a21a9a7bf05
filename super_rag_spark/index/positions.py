"""Opt-in POSITIONAL postings sidecar (r4, VERDICT stretch #8).

The default phrase path is match-then-verify against the source corpus
(query/phrase.py — the classic trade: no positions stored, 2-3x smaller
index, rare phrase queries pay a corpus touch). This sidecar makes slop
phrase queries INDEX-ONLY: per (term, doc) the token positions are
stored as delta-varint runs, blocked exactly like postings (128-doc
blocks, bucket = term_id % B dirs, term_id-sorted files for row-group
pruning), so a phrase query reads candidates' position runs with the
same bucket + term pruning the scorer uses and never opens the corpus.

Plan shape (build): tokenize -> posexplode -> when a bucket fits a
task (index/build._fits_a_task, the postings build's rule), the
postings build's spill: one exchange partitioned by bucket, then per
bucket a numpy lexsort + vectorized block encode. Over-budget buckets
stream: groupBy(term, doc) sorted positions -> repartition on the
output bucket -> sortWithinPartitions(bucket, term_id, doc_id) -> one
mapInArrow that encodes and writes. Either way the task that built a
bucket's blocks writes its file through the one block writer
(index/build._write_buckets), so both paths give the same bytes; every
bucket gets a dir, empty ones too, and _SUCCESS comes last.

Lifecycle: positions are built per EPOCH (build_positions after
build_index) and CARRIED through merges at O(delta) cost (r5,
index/sidecars.py): a segment append hardlinks the delta's position
blocks in next to the old files, removal-hit groups rebuild, and
compact_index folds everything back to canonical blocking. Only a
crash-resume that lost the staging sidecar degrades — has_positions()
turns false and phrase queries transparently fall back to
match-then-verify until build_positions re-runs.
Head terms are not salted here (a phrase's rarest term bounds the
candidate work; position runs of one term stay doc-sorted and blocked
within a file; readers sort across segment files on load).

No reference analog: super-rag's dense retrieval has no positional
queries at all (/root/reference/service/query.py); this follows the
standard positional-index design (Manning IR ch.2) re-expressed as a
Spark build.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec import decode_positions_block, encode_varint_sizes
from .build import (_blocks_of, _carve, _fits_a_task, _gaps, _new_runs,
                    _spilled, _write_buckets, extract, extract_any,
                    spread_input, term_id_expr, tokens_from_text,
                    write_blocks)
from .storage import IndexStorage


def _build_position_blocks(term_ids: np.ndarray, doc_ids: np.ndarray,
                           flat_pos: np.ndarray, row_off: np.ndarray,
                           block_size: int, n_buckets: int):
    """Vectorized positions-block build over a (term_id, doc_id)-sorted
    run of rows; returns a pyarrow.RecordBatch matching
    POSITIONS_SCHEMA. ``row_off``: int64 array of len(rows)+1 — row i's
    positions are flat_pos[row_off[i]:row_off[i+1]]. Whole-batch varint
    encode + per-block byte carving, as the postings build does."""
    import pyarrow as pa

    counts = (row_off[1:] - row_off[:-1]).astype(np.int64)
    starts, ends, block_ids = _blocks_of(_new_runs(term_ids), block_size)
    # positions restart absolute at each doc
    pos_gaps = _gaps(flat_pos, row_off[:-1][counts > 0])

    def carve(values, lo=starts, hi=ends) -> list[bytes]:
        return _carve(*encode_varint_sizes(values), lo, hi)

    bterms = term_ids[starts]
    return pa.record_batch({
        "term_id": bterms,
        "block_id": block_ids.astype(np.int32),
        "n": (ends - starts).astype(np.int32),
        "first_doc_id": doc_ids[starts],
        "last_doc_id": doc_ids[ends - 1],
        "docs_enc": carve(_gaps(doc_ids, starts)),
        "cnt_enc": carve(counts),
        "pos_enc": carve(pos_gaps, row_off[starts], row_off[ends]),
        "bucket": (bterms % n_buckets).astype(np.int32),
    })


def _make_positions_builder(block_size: int, n_buckets: int):
    """mapInArrow body over a partition sorted by (bucket, term_id,
    doc_id) (:func:`clustered_positions`): rows (term_id, doc_id,
    positions array); yields the blocks as record batches. A list
    column is read as its offsets and flattened values. Batches may
    split a term run; the trailing partial run carries into the next
    batch."""

    def gen(batches):
        carry = None  # (terms, docs, flat, row_off)
        for rb in batches:
            if not rb.num_rows:
                continue
            terms = rb.column("term_id").to_numpy(zero_copy_only=False)
            docs = rb.column("doc_id").to_numpy(zero_copy_only=False)
            lists = rb.column("positions")
            offs = lists.offsets.to_numpy().astype(np.int64)
            # values ignore a slice's offset; offsets honour it
            flat = lists.values.to_numpy(zero_copy_only=False)[
                offs[0]:offs[-1]].astype(np.int64)
            row_off = offs - offs[0]
            if carry is not None:
                cterms, cdocs, cflat, coff = carry
                terms = np.concatenate((cterms, terms))
                docs = np.concatenate((cdocs, docs))
                flat = np.concatenate((cflat, flat))
                row_off = np.concatenate((coff, coff[-1] + row_off[1:]))
                carry = None
            bounds = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            if len(bounds) == 0:
                carry = (terms, docs, flat, row_off)
                continue
            cut = int(bounds[-1])
            fcut = int(row_off[cut])
            carry = (terms[cut:], docs[cut:], flat[fcut:],
                     row_off[cut:] - fcut)
            yield _build_position_blocks(
                terms[:cut], docs[:cut], flat[:fcut], row_off[:cut + 1],
                block_size, n_buckets)
        if carry is not None and len(carry[0]):
            yield _build_position_blocks(*carry, block_size, n_buckets)

    return gen


def clustered_positions(rows: DataFrame, n_buckets: int) -> DataFrame:
    """(term_id, doc_id, positions) rows as the positions builder takes
    them: ONE shuffle by the output bucket, each partition sorted by
    (bucket, term_id, doc_id), so a task's blocks come out in the order
    build._write_buckets takes (two buckets of one partition would
    otherwise interleave)."""
    return (rows
            .withColumn("bucket_p",
                        F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int"))
            .repartition(n_buckets, "bucket_p")
            .sortWithinPartitions("bucket_p", "term_id", "doc_id")
            .select("term_id", "doc_id", "positions"))


def write_positions(clustered: DataFrame, out_dir: str, *, block_size: int,
                    n_buckets: int) -> None:
    """The streaming positions build into a cleared ``out_dir``: each
    task builds and writes the blocks of its :func:`clustered_positions`
    partition (build.write_blocks)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    write_blocks(clustered, out_dir, None,
                 build=_make_positions_builder(block_size, n_buckets))
    _complete(out_dir, n_buckets)


def _complete(out_dir: str, n_buckets: int) -> None:
    """Every bucket of a positions epoch gets a dir, empty ones too, so
    a missing one reads as lost data (IndexStorage.bucket_dir); the
    _SUCCESS marker has_positions() keys on goes last."""
    for b in range(n_buckets):
        os.makedirs(os.path.join(out_dir, f"bucket={b}"), exist_ok=True)
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def build_positions(spark: SparkSession, docs_df: DataFrame, index_dir: str, *,
                    text_is_extracted: bool = True,
                    extract_mode: str = "html") -> IndexStorage:
    """Build the positional sidecar for the CURRENT epoch of an existing
    index. ``docs_df`` must be the same corpus build_index saw (same
    urls/text — positions are token indexes in the [a-z0-9]+ stream, so
    adjacency == position delta 1). Assumes unique doc_ids (build_index
    dedups duplicates; feed the deduped corpus)."""
    store = IndexStorage(index_dir)
    manifest = store.read_manifest()
    n_buckets = int(manifest["n_buckets"])
    block_size = int(manifest["block_size"])
    epoch = int(manifest["epoch"])

    # duplicate-url guard, SAME deterministic survivor as build_index
    # (build.py): without it a url ingested twice would merge BOTH
    # copies' positions into one doc_id — phantom index-only phrase
    # matches the postings (which kept one copy) can never produce.
    # One aggregation compares the row count with the distinct urls (a
    # count against the manifest's n_docs misses a corpus with one url
    # duplicated and another missing); only a duplicate pays the dedup.
    st = docs_df.agg(F.count(F.lit(1)).alias("n"),
                     F.countDistinct("url").alias("u")).collect()[0]
    docs_df = spread_input(spark, docs_df)
    if not text_is_extracted:
        docs_df = (extract(docs_df) if extract_mode == "html"
                   else extract_any(docs_df))
    toks = tokens_from_text(docs_df)
    if int(st["n"]) != int(st["u"]):
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(
            F.md5(F.concat_ws(" ", "tokens")).desc(), F.desc("dl"))
        toks = (toks.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))
    pos_rows = (
        toks.select("doc_id", F.posexplode("tokens").alias("pos", "term"))
        .select(term_id_expr("term").alias("term_id"), "doc_id",
                F.col("pos").cast("int").alias("pos"))
    )
    out_dir = store.positions_dir_for(epoch)
    # the spill's lexsort orders a (term, doc) run's positions exactly
    # as the streaming path's sort_array does
    if _fits_a_task(
            int(store.corpus_stats(spark, epoch)["total_tokens"]) * 20,
            n_buckets):
        _build_positions_bucketed(spark, pos_rows, out_dir,
                                  block_size=block_size,
                                  n_buckets=n_buckets)
    else:
        write_positions(clustered_positions(
            pos_rows.groupBy("term_id", "doc_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions")),
            n_buckets), out_dir, block_size=block_size, n_buckets=n_buckets)
    return store


def _build_positions_bucketed(spark: SparkSession, pos_rows: DataFrame,
                              out_dir: str, *, block_size: int,
                              n_buckets: int) -> None:
    """Columnar per-bucket positions build through the postings build's
    spill (index/build._spilled): each bucket's task lexsorts its
    (term_id, doc_id, pos) rows, builds its position blocks and writes
    them (build._write_buckets)."""
    bs, nb = int(block_size), int(n_buckets)

    def build(b: int, cols: dict) -> Iterator[dict]:
        terms, docs = cols.pop("term_id"), cols.pop("doc_id")
        poss = cols.pop("pos").astype(np.int64)
        order = np.lexsort((poss, docs, terms))
        terms, docs, poss = terms[order], docs[order], poss[order]
        rstarts = np.flatnonzero(_new_runs(terms, docs))
        row_off = np.r_[rstarts, len(terms)].astype(np.int64)
        rb = _build_position_blocks(
            terms[rstarts], docs[rstarts], poss, row_off, bs, nb)
        return _write_buckets([rb], out_dir, None)

    shutil.rmtree(out_dir, ignore_errors=True)
    _spilled(spark, pos_rows.withColumn(
        "bucket_p", F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int")),
        out_dir.rstrip("/") + "._posspill", n_buckets, build)
    _complete(out_dir, n_buckets)


def decode_positions_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Position-block rows -> (term_id, doc_id, positions array<long>)
    rows (the distributed decode leg; postings decode through
    scoring.decode_postings_map_in_arrow)."""
    for pdf in batches:
        if not len(pdf):
            yield pd.DataFrame({"term_id": np.array([], dtype="int64"),
                                "doc_id": np.array([], dtype="int64"),
                                "positions": []})
            continue
        terms, docs_all, lists = [], [], []
        for row in pdf.itertuples(index=False):
            docs, counts, flat = decode_positions_block(
                row.docs_enc, row.cnt_enc, row.pos_enc, int(row.n))
            terms.append(np.full(len(docs), row.term_id, dtype=np.int64))
            docs_all.append(docs)
            lists.extend(np.split(flat, np.cumsum(counts)[:-1]))
        yield pd.DataFrame({
            "term_id": np.concatenate(terms),
            "doc_id": np.concatenate(docs_all),
            "positions": lists,
        })


DECODED_POSITIONS_SCHEMA = "term_id long, doc_id long, positions array<long>"


def chain_match(pos_lists: list[np.ndarray], slop: int = 0) -> bool:
    """True iff the phrase whose i-th term has (sorted) positions
    ``pos_lists[i]`` occurs with each inter-term gap admitting at most
    ``slop`` extra tokens — i.e. exists p_1 < ... < p_n with
    1 <= p_{i+1} - p_i <= slop + 1. Exactly the language of the verify
    regex ' t1( tok){0,s} t2 ...' (equivalence property-tested in
    tests/test_positions.py). Vectorized searchsorted chain."""
    s = np.asarray(pos_lists[0], dtype=np.int64)
    for nxt in pos_lists[1:]:
        if not len(s):
            return False
        nxt = np.asarray(nxt, dtype=np.int64)
        lo = np.searchsorted(s, nxt - (slop + 1), side="left")
        hi = np.searchsorted(s, nxt - 1, side="right")
        s = nxt[hi > lo]
    return bool(len(s))


def span_match(pos_lists: "list[np.ndarray]", slop: int) -> bool:
    """Lucene SpanNearQuery(inOrder=false) acceptance for single-token
    clauses: some token window holds one occurrence of EVERY list with
    at most ``slop`` surplus width — i.e. min_cover_span(pos_lists)
    - n_lists <= slop (slop=0 means the n terms sit in n adjacent
    slots, any order). False when any list is empty."""
    span = min_cover_span(pos_lists)
    return span is not None and span - len(pos_lists) <= slop


def min_cover_span(pos_lists: "list[np.ndarray]") -> int | None:
    """Length of the SMALLEST token window containing at least one
    position from every list (the classic k-sorted-lists minimum
    covering range; the proximity signal ES/Lucene rescorers use).
    Returns None when any list is empty. Anchor argument: some optimal
    window starts at a term occurrence, so the merged-occurrence sweep
    below is exact."""
    k = len(pos_lists)
    if k == 0 or any(len(p) == 0 for p in pos_lists):
        return None
    tagged = np.concatenate(
        [np.stack([np.asarray(p, dtype=np.int64),
                   np.full(len(p), i, dtype=np.int64)], axis=1)
         for i, p in enumerate(pos_lists)])
    tagged = tagged[np.argsort(tagged[:, 0], kind="stable")]
    counts = np.zeros(k, dtype=np.int64)
    covered = 0
    best = None
    lo = 0
    for hi in range(len(tagged)):
        lid = int(tagged[hi, 1])
        if counts[lid] == 0:
            covered += 1
        counts[lid] += 1
        while covered == k:
            span = int(tagged[hi, 0] - tagged[lo, 0] + 1)
            if best is None or span < best:
                best = span
            left = int(tagged[lo, 1])
            counts[left] -= 1
            if counts[left] == 0:
                covered -= 1
            lo += 1
    return best
