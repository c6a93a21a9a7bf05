"""Distributed inverted-index build (SURVEY.md §3.1 "Spark rebuild").

Replaces the reference ingest pipeline (HTTP fetch -> unstructured.io ->
embed -> vector-DB upsert, /root/reference/api/ingest.py:15-62 and
/root/reference/service/embedding.py:153-296) with:

  scan -> spread_input -> ONE Python pass per input partition
  (mapInArrow: extract, then per Arrow batch tokenize, hash and count
  in NumPy kernels to one posting per (term, doc), spill the postings
  to one file per task grouped by term-hash bucket) -> persisted
  (doc_id, url, dl) rows -> corpus stats
  + duplicate-url check + doc_stats + corpus_stats -> per-bucket task:
  its row groups of every spill file -> numpy lexsort -> posting-block
  build with in-bucket head-term salting (NumPy codec) -> postings +
  term_stats files written by that same task + per-bucket lineage

Scale notes (100 TB / 10^12 docs):
- the doc pass crosses the JVM/Python boundary once per doc: the text
  is extracted, tokenized and collapsed to postings in the task that
  extracted it, and only (doc_id, url, dl) goes back to the JVM.
  Nothing token-sized is persisted, exploded or shuffled; tokens never
  exist as JVM arrays, nor as Python objects: analysis.term_counts
  splits a whole Arrow batch with a byte table, dictionary-encodes its
  tokens, hashes each distinct term once (analysis.term_ids, XXH64 in
  NumPy lanes) and counts (doc, term) pairs with one np.unique. A
  non-ASCII doc is lowercased per doc first, by str.lower as
  analysis.tokenize does, so Unicode lowercasing has one definition.
  Positions and vocab sidecars still tokenize in the JVM
  (tokens_expr); tests/test_analysis.py holds the two tokenizers to
  the same output.
- the postings' only exchange is the spill: each doc-pass task writes
  ONE parquet file whose row groups are its postings per bucket, so a
  build writes n_tasks files, not n_tasks x n_buckets, and a bucket
  holds collapsed postings, not raw token occurrences: a head term
  weighs its df, not its total count. The bucket count of the spill is
  the pinned n_buckets, else the session's parallelism, of which
  adaptive_n_buckets' count is a multiple: each index bucket lies
  inside one spill bucket, and a task reads a spill bucket's row
  groups and builds its index buckets (a share of them, when the spill
  bucket is over BUCKET_MEM_BUDGET). A build whose index buckets are
  over the budget feeds the spill files to the streaming builder
  instead (_postings_from_spill). A spill bucket's list of row groups
  has one entry per doc-pass task, so each bucket task reads its own
  list from a file in the spill dir (_stage): in the function shipped
  to every task, the lists of all buckets would cost each task
  n_buckets x n_doc_pass_tasks entries.
- the block builder sums tf over (term, doc) runs and sees each term's
  df as its group size, so there is no df aggregation and no df join.
- head-term skew (Zipf: "the" at 10^12 docs has ~10^11 postings) is
  handled by *contiguous-range* salting: salt = top bits of doc_id for
  terms with df > threshold, so one reducer never sees more than
  df/SALT_COUNT postings AND concatenating salt groups in salt order
  yields globally sorted, non-overlapping blocks (WAND-safe).
- document length is stored inline in each posting block (dls_enc), so
  the query path never joins doc_stats — see codec.py.
- input skew: Spark splits a parquet scan by row group, so a corpus
  written as one file with one row group is read by ONE task, and the
  doc pass would run in that one partition while the other cores
  idle. spread_input round-robins such an input over every core first
  (the DS2 data-stealing idea: balance before the expensive operator).
  An input with more splits than cores is left alone: the scheduler
  already balances its tasks, so a wide input at scale pays no extra
  exchange.
- blocks have one writer, _write_buckets, run inside the task that
  built them: the spill's per-bucket task, the streaming builder's
  mapInArrow and a merge's rewrite, for postings and for the positions
  sidecar (index/positions.py, index/sidecars.py) alike. It writes
  each bucket's file in one fixed layout and, when given a term_stats
  dir, the bucket's term_stats from the same blocks (df = the sum of
  block ``n`` per term_id, _write_term_stats_bucket), and returns the
  bucket's lineage row. A build's blocks never return to the JVM and
  are never read back. An append's staged buckets hold two files, so
  write_term_stats_and_lineage recomputes their df from the files.
- every Spark job build_index runs is named by its phase
  (``build:extract``, ``build:doc_stats``, ``build:postings``) in the
  UI and the event log.
- every Python task of a build, an append or a positions build runs in
  a DataFrame Arrow job: the per-bucket tasks launch from
  ``spark.range`` (_per_bucket), not from an RDD, whose tasks would
  start a second Python daemon and worker pool in every new JVM. Each
  Python task still pays a fixed 0.1-0.2 s of CPU in pyspark's set-up
  (its importlib.invalidate_caches() re-reads every zip on the worker
  path), so a design that adds Python tasks adds that cost.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from typing import Callable, Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import analysis
from ..codec import encode_varint_sizes
from ..extraction import EXTRACT_SCHEMA, extract_text_map_in_pandas
from .storage import POSTINGS_SCHEMA, IndexStorage

# ---------------------------------------------------------------- expressions

def doc_id_expr(url_col: str = "url"):
    """60-bit content-addressed doc id; mirrors analysis.doc_id_for_url."""
    return F.conv(F.substring(F.sha1(F.col(url_col)), 1, 15), 16, 10).cast("long")


def term_id_expr(term_col: str = "term"):
    """Signed 64-bit term id; mirrors analysis.term_id_for. Keying the
    postings pipeline on int64 instead of the term string keeps every
    shuffle and every Arrow->Python transfer string-free (measured ~3x
    on the build). r6: xxhash64 built-in instead of the sha1 -> hex ->
    conv chain, whose string allocations + BigInteger parse dominated
    the tf aggregation stage (guide §4.1 built-ins; measured 6x on the
    stage at 1 core)."""
    return F.xxhash64(F.col(term_col))


def tokens_expr(text_col: str = "text"):
    """JVM-side tokenizer identical to analysis.tokenize (no UDF)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: x != F.lit(""),
    )


def spread_input(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df`` round-robined over the session's cores when it has no more
    partitions than cores; else ``df`` itself.

    A raw input with few splits (one parquet row group is one split)
    leaves most cores idle through extraction, tokenizing and every
    stage that inherits its partitioning, and the one split that holds
    most rows sets each of those stages' wall time. More splits than
    cores are already balanced by the scheduler, so those frames take
    no exchange. The postings and term_stats files do not depend on the
    input's partitioning: the builders sort by (term_id, doc_id).

    Counting the partitions of a frame that ends in a shuffle runs that
    shuffle's map side (adaptive execution settles the count by running
    it); a file scan or local data counts without a job."""
    cores = int(spark.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() > cores:
        return df
    return df.repartition(cores)


@contextmanager
def job_description(spark: SparkSession, name: str):
    """Names the Spark jobs run inside the block ``name`` (UI, event
    log), then restores the caller's description."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def extract(webtext_df: DataFrame) -> DataFrame:
    """(url, html, ...) -> (url, text) via the Arrow-batched extractor."""
    return webtext_df.select("url", "html").mapInPandas(
        extract_text_map_in_pandas, schema=EXTRACT_SCHEMA
    )


def extract_any(df: DataFrame) -> DataFrame:
    """Multi-format variant: dispatch on the url extension (S3,
    /root/reference/models/file.py:42-53) before extraction — HTML /
    TXT / MARKDOWN parse in-sandbox, other reference formats raise in
    the UDF (they need external parsers)."""
    from ..extraction import extract_any_map_in_pandas
    from ..points import source_type_expr

    return df.select("url", "html", source_type_expr("url")).mapInPandas(
        extract_any_map_in_pandas, schema=EXTRACT_SCHEMA
    )


def tokens_from_text(df: DataFrame, url_col: str = "url",
                     text_col: str = "text") -> DataFrame:
    """(url, text) -> (doc_id, url, tokens, dl), tokenized in the JVM
    (:func:`tokens_expr`); the positions and vocab sidecars' input."""
    return (
        df.select(
            doc_id_expr(url_col).alias("doc_id"),
            F.col(url_col).alias("url"),
            tokens_expr(text_col).alias("tokens"),
        )
        .withColumn("dl", F.size("tokens"))
    )


# ---------------------------------------------------------------- block build

def _new_runs(*keys: np.ndarray) -> np.ndarray:
    """True at each row where a run of equal ``keys`` starts."""
    new = np.zeros(len(keys[0]), dtype=bool)
    new[:1] = True
    for k in keys:
        new[1:] |= k[1:] != k[:-1]
    return new


def _blocks_of(new_group: np.ndarray, block_size: int):
    """Rows cut into blocks of at most ``block_size`` rows, never across
    a group (a group starts where ``new_group`` is set): the blocks'
    start rows, end rows and block_id within their group."""
    n = len(new_group)
    group_starts = np.flatnonzero(new_group)
    group_id = np.cumsum(new_group) - 1          # per row
    off_in_group = np.arange(n) - group_starts[group_id]
    is_block_start = new_group | (off_in_group % block_size == 0)
    starts = np.flatnonzero(is_block_start)
    block_of_row = np.cumsum(is_block_start) - 1
    ids = np.arange(len(starts)) - block_of_row[group_starts][group_id[starts]]
    return starts, np.concatenate((starts[1:], [n])), ids


def _gaps(values: np.ndarray, restarts: np.ndarray) -> np.ndarray:
    """Delta gaps of ``values``, absolute at the ``restarts`` rows, so a
    block (or a doc's position run) decodes standalone."""
    gaps = np.empty(len(values), dtype=np.int64)
    gaps[:1] = values[:1]
    np.subtract(values[1:], values[:-1], out=gaps[1:])
    gaps[restarts] = values[restarts]
    return gaps


def _carve(buf: bytes, nbytes: np.ndarray, lo: np.ndarray,
           hi: np.ndarray) -> list[bytes]:
    """Slices of a whole-batch varint buffer, the i-th holding values
    lo[i]..hi[i]-1 (LEB128 is per-value independent, so each slice is
    bit-identical to an encode of its own values)."""
    ends = np.concatenate(([0], np.cumsum(nbytes)))
    return [buf[a:b] for a, b in zip(ends[lo].tolist(), ends[hi].tolist())]


def _build_blocks_arrays(terms, salts, doc_ids, tfs, dls,
                         block_size: int, n_buckets: int, seg: int = 0):
    """Vectorized block build over CONTIGUOUS, doc_id-sorted (term,
    salt) groups given as NumPy arrays; returns a pyarrow.RecordBatch
    matching POSTINGS_SCHEMA. Batch-level amortization is essential
    when the corpus has millions of tail terms (one call per term
    would dominate the build).

    v3: blocks are STATS-FREE — they carry (block_max_tf, block_min_dl)
    instead of a corpus-dependent block_max_score, and no df. A block
    therefore depends ONLY on its own group's postings, which is what
    makes O(delta) merges possible: appends never invalidate untouched
    groups just because N/avgdl/df moved. The WAND bound is
    query/wand.py's bm25_contrib at the block's (block_max_tf,
    block_min_dl) corner, computed at query time."""
    import pyarrow as pa

    # Fully vectorized (r3): the former per-block loop paid
    # ~30 small-array NumPy dispatches per block — at 172 k blocks /
    # sf0.1 that loop WAS the build bottleneck once extraction got
    # fast. Instead: derive every block boundary index-side, varint-
    # encode each stream ONCE for the whole batch, and carve per-block
    # buffers at cumulative byte offsets (asserted bit-identical to
    # per-block encodes by test_vectorized_block_builder_bit_identity).
    starts, ends, block_ids = _blocks_of(_new_runs(terms, salts), block_size)

    def carve(values) -> list[bytes]:
        return _carve(*encode_varint_sizes(values), starts, ends)

    bterms = terms[starts]
    return pa.record_batch({
        "term_id": bterms,
        "salt": salts[starts].astype(np.int32),
        "seg": np.full(len(starts), seg, dtype=np.int32),
        "block_id": block_ids.astype(np.int32),
        "n": (ends - starts).astype(np.int32),
        "first_doc_id": doc_ids[starts],
        "last_doc_id": doc_ids[ends - 1],
        "docs_enc": carve(_gaps(doc_ids, starts)),
        "tfs_enc": carve(tfs),
        "dls_enc": carve(dls),
        "block_max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
        "block_min_dl": np.minimum.reduceat(dls, starts).astype(np.int32),
        "bucket": (bterms % n_buckets).astype(np.int32),
    })


def _collapse_build(terms, doc_ids, tfdl, *, block_size: int,
                    n_buckets: int, salt_df_threshold: int, salt_count: int,
                    seg: int, first_salted: bool = False):
    """Block build over (term_id, doc_id)-sorted rows whose term groups
    are all complete; returns the blocks as one record batch.

    Input rows may be PRE-AGGREGATED postings (one row per (term, doc)
    with its tf) or RAW token occurrences (tf=1 per row), with tf/dl
    packed as ``tfdl`` (tf<<32 | dl): contiguous (term, doc) runs are
    summed, which makes the two identical (the doc pass's spill and a
    merge's decoded blocks are postings). A term is salted (salt = doc_id's top bits) when its df
    exceeds ``salt_df_threshold``; ``first_salted``: the first group
    already overflowed upstream (its earlier salt subgroups were
    flushed), so it is salted regardless of its remaining size here."""
    shift = np.int64(analysis.DOC_ID_BITS - (salt_count.bit_length() - 1))
    # collapse (term, doc) runs -> one posting per run, tf summed
    pstarts = np.flatnonzero(_new_runs(terms, doc_ids))
    tfs = np.add.reduceat(tfdl >> np.int64(32), pstarts)
    pterms = terms[pstarts]
    pdocs = doc_ids[pstarts]
    pdls = tfdl[pstarts] & np.int64(0xFFFFFFFF)
    # term groups over postings; group size == the term's df
    gstarts = np.flatnonzero(_new_runs(pterms))
    gsizes = np.diff(np.append(gstarts, len(pterms)))
    salted_grp = gsizes > int(salt_df_threshold)
    if first_salted:
        salted_grp[0] = True
    salts = np.where(np.repeat(salted_grp, gsizes),
                     pdocs >> shift, 0).astype(np.int32)
    return _build_blocks_arrays(pterms, salts, pdocs, tfs, pdls,
                                block_size, n_buckets, seg)


def _make_partition_builder(block_size: int, n_buckets: int, seg: int = 0,
                            salt_df_threshold: int = analysis.SALT_DF_THRESHOLD,
                            salt_count: int = analysis.SALT_COUNT):
    """mapInArrow body over a partition clustered by bucket and sorted
    by (bucket, term_id, doc_id); yields the blocks as record batches.
    Input batches carry (term_id, doc_id, tfdl), tf and dl packed in one
    int64: data movement, not the NumPy encode, is the build's cost
    (the encode measured ~0.2 s of a ~38 s stage at sf0.3).

    Head-term salting happens here (r6): every posting of a term lands
    in this partition, so the builder sees the term's complete df as its
    contiguous group size, and salt = doc_id's top bits is monotone in
    doc_id, so (term_id, doc_id) order is (term_id, salt, doc_id) order.
    No global df aggregation or join (guide §2.3/§2.4).

    Memory bound: an incomplete term group is carried across batches;
    once it exceeds the salt threshold the term is provably salted and
    every complete salt subgroup is flushed eagerly, so the carry never
    holds more than max(threshold, one salt subgroup)."""
    shift = np.int64(analysis.DOC_ID_BITS - (salt_count.bit_length() - 1))
    thr = int(salt_df_threshold)

    def emit(cols, first_salted: bool):
        """Blocks of rows whose TERM groups are all complete."""
        return _collapse_build(
            *cols, block_size=block_size, n_buckets=n_buckets,
            salt_df_threshold=thr, salt_count=salt_count, seg=seg,
            first_salted=first_salted)

    def gen(batches):
        carry = None  # list of 3 numpy arrays: incomplete TERM group
        carry_salted = False
        for rb in batches:
            cols = [rb.column(i).to_numpy(zero_copy_only=False)
                    for i in range(3)]
            if carry is not None:
                cols = [np.concatenate((c, a)) for c, a in zip(carry, cols)]
            first_salted, carry, carry_salted = carry_salted, None, False
            terms, doc_ids = cols[0], cols[1]
            n = len(terms)
            if n == 0:
                continue
            bounds = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            if len(bounds) == 0:
                # whole batch one (possibly partial) term group; df so
                # far = distinct docs, not rows (raw rows repeat docs)
                df_so_far = int(np.count_nonzero(
                    doc_ids[1:] != doc_ids[:-1])) + 1
                if first_salted or df_so_far > thr:
                    # provably salted: flush complete salt subgroups
                    # (cuts at doc_id top-bit changes == doc changes,
                    # so no (term, doc) run is ever split)
                    salts_full = doc_ids >> shift
                    sb = np.flatnonzero(salts_full[1:] != salts_full[:-1]) + 1
                    if len(sb):
                        cut = int(sb[-1])
                        yield emit([a[:cut] for a in cols], True)
                        carry = [a[cut:] for a in cols]
                    else:
                        carry = cols
                    carry_salted = True
                else:
                    carry = cols
                continue
            cut = int(bounds[-1])
            carry = [a[cut:] for a in cols]
            yield emit([a[:cut] for a in cols], first_salted)
        if carry is not None and len(carry[0]):
            yield emit(carry, carry_salted)

    return gen


def build_postings(tf_df: DataFrame, *,
                   block_size: int = analysis.BLOCK_SIZE,
                   n_buckets: int = analysis.N_BUCKETS,
                   salt_df_threshold: int = analysis.SALT_DF_THRESHOLD,
                   salt_count: int = analysis.SALT_COUNT,
                   seg: int = 0,
                   k1: float = None, b: float = None) -> DataFrame:
    """tf rows (term, doc_id, tf, dl) -> posting-block rows, from the
    streaming builder (:func:`_make_partition_builder`, which also
    salts head terms). A merge's rewrite takes them as a frame;
    build_index runs the builder inside :func:`write_blocks` instead.
    ``k1``/``b`` are accepted and ignored so manifest-config dicts can
    be splatted through."""
    builder = _make_partition_builder(
        block_size, n_buckets, seg,
        salt_df_threshold=salt_df_threshold, salt_count=salt_count)
    return _clustered(_packed(tf_df), n_buckets).mapInArrow(
        builder, schema=POSTINGS_SCHEMA)


def _packed(tf_df: DataFrame) -> DataFrame:
    """(term_id, doc_id, tfdl) of tf rows; tf < 2^31 and dl < 2^32, so
    tfdl = tf<<32 | dl round-trips exactly with one column fewer to
    exchange."""
    return tf_df.select("term_id", "doc_id", F.expr(
        "shiftleft(CAST(tf AS BIGINT), 32) + CAST(dl AS BIGINT)").alias("tfdl"))


def _clustered(rows: DataFrame, n_buckets: int) -> DataFrame:
    """The streaming builder's input from (term_id, doc_id, tfdl) rows:
    ONE shuffle by the output bucket, each partition sorted by (bucket,
    term_id, doc_id), so a task's blocks come out in the order
    :func:`_write_buckets` takes."""
    bucket = F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int")
    return (rows.select("term_id", "doc_id", "tfdl", bucket.alias("bucket_p"))
            .repartition(n_buckets, "bucket_p")
            .sortWithinPartitions("bucket_p", "term_id", "doc_id")
            .select("term_id", "doc_id", "tfdl"))


def _collapse_build_bucket(terms, docs, tfdl, *, block_size: int,
                           n_buckets: int, salt_df_threshold: int,
                           salt_count: int, seg: int):
    """Whole-bucket block build over UNSORTED arrays of one or more
    buckets: one numpy lexsort by (bucket, term_id, doc_id), then
    :func:`_collapse_build`. (r6, measured sf0.1 at 1 core: Spark's row
    sort and row->Arrow pipe took 48 s + ~25 s for 34 M rows, the same
    sort as one lexsort 7.5 s.)"""
    keys = (docs, terms)
    bucket = terms % n_buckets
    if len(bucket) and (bucket != bucket[0]).any():
        keys += (bucket,)
    order = np.lexsort(keys)
    return _collapse_build(
        terms[order], docs[order], tfdl[order], block_size=block_size,
        n_buckets=n_buckets, salt_df_threshold=salt_df_threshold,
        salt_count=salt_count, seg=seg)


# one bucket's (term_id, doc_id, tfdl) postings arrays (or the
# positions build's raw rows) must fit a task for the columnar path;
# adaptive_n_buckets sizes buckets ~6x smaller than this, so the
# fallback only triggers when a caller pins a small n_buckets on a huge
# corpus
BUCKET_MEM_BUDGET = 2 << 30


def _fits_a_task(total_bytes: int, n_buckets: int) -> bool:
    """Whether a bucket's share of a build's raw rows fits a task: the
    positions build takes the spill if so, else its streaming
    builder."""
    return total_bytes // max(1, n_buckets) <= BUCKET_MEM_BUDGET


_PART = "part-00000.parquet"

# The one block file layout: dictionary pages on every column but the
# nearly distinct ones (term_id and the doc and position streams;
# pages on them made the index larger and the queries slower, and
# parquet-mr leaves them plain too), and row groups cut at a fixed row
# count, so a file's bytes do not depend on the batches its blocks
# came in.
_PLAIN_COLUMNS = {"term_id", "docs_enc", "dls_enc", "pos_enc"}
_ROW_GROUP_ROWS = 1 << 20


def _tmp_part(bucket_dir: str) -> str:
    return os.path.join(bucket_dir, f".{_PART}.tmp")


def _publish(bucket_dir: str) -> None:
    """The dir's temp file replaces its part file, and everything else
    in the dir (a crashed attempt's files, a merge's links) goes. The
    old part file may be a hardlink shared with the live epoch, so it is
    never opened for writing."""
    os.replace(_tmp_part(bucket_dir), os.path.join(bucket_dir, _PART))
    for other in os.listdir(bucket_dir):
        if other != _PART:
            os.remove(os.path.join(bucket_dir, other))


def _term_dfs(term_ids: np.ndarray, ns: np.ndarray):
    """THE definition of df: the sum of block ``n`` per ``term_id`` over
    a bucket's block rows, since each live doc has exactly one posting
    per term. Returns (sorted term_ids, dfs, lineage counts)."""
    order = np.argsort(term_ids, kind="stable")
    ids, starts = np.unique(term_ids[order], return_index=True)
    dfs = np.add.reduceat(ns[order].astype(np.int64), starts)
    return ids, dfs, {"n_terms": int(len(ids)), "n_blocks": int(len(term_ids)),
                      "n_postings": int(dfs.sum())}


def _write_term_stats_bucket(ts_dir: str, bucket: int, term_ids: np.ndarray,
                             ns: np.ndarray) -> dict:
    """A bucket's term_stats (:func:`_term_dfs` of its block rows),
    sorted by term_id, as the only file of its dir (:func:`_publish`);
    returns the bucket's lineage counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, dfs, counts = _term_dfs(term_ids, ns)
    d = os.path.join(ts_dir, f"bucket={bucket}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({"term_id": pa.array(ids, type=pa.int64()),
                             "df": pa.array(dfs, type=pa.int64())}),
                   _tmp_part(d))
    _publish(d)
    return counts


def _row_groups(batches: Iterable) -> Iterator:
    """``batches`` as one-chunk tables of ``_ROW_GROUP_ROWS`` rows, the
    last one shorter."""
    import pyarrow as pa

    pending, n = [], 0
    for rb in batches:
        pending.append(rb)
        n += rb.num_rows
        while n >= _ROW_GROUP_ROWS:
            tbl = pa.Table.from_batches(pending).combine_chunks()
            yield tbl.slice(0, _ROW_GROUP_ROWS)
            pending = tbl.slice(_ROW_GROUP_ROWS).to_batches()
            n -= _ROW_GROUP_ROWS
    if n:
        yield pa.Table.from_batches(pending).combine_chunks()


def _write_buckets(blocks: Iterable, blocks_dir: str,
                   ts_dir: str | None) -> Iterator[dict]:
    """THE block writer, of postings and positions alike. ``blocks``:
    record batches of POSTINGS_SCHEMA or POSITIONS_SCHEMA rows, of one
    or more buckets, sorted by bucket and in term order within one.
    Each bucket's rows become the only file of its dir under
    ``blocks_dir``, in the one layout, through a temp file
    (:func:`_publish`); with ``ts_dir`` its term_stats are written from
    the same blocks. Yields each bucket's lineage row once its files
    are in place."""
    import itertools

    import pyarrow.parquet as pq

    def runs():
        for rb in blocks:
            col = rb.column("bucket").to_numpy()
            starts = np.flatnonzero(np.diff(col, prepend=-1))
            for lo, hi in zip(starts, [*starts[1:], len(col)]):
                yield int(col[lo]), rb.slice(lo, hi - lo).drop_columns(["bucket"])

    done = set()
    for b, run in itertools.groupby(runs(), key=lambda r: r[0]):
        if b in done:
            raise ValueError(f"the blocks of bucket {b} are not contiguous")
        done.add(b)
        d = os.path.join(blocks_dir, f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        ids, ns = [], []
        tables = _row_groups(rb for _, rb in run)
        first = next(tables)
        with pq.ParquetWriter(_tmp_part(d), first.schema, use_dictionary=[
                c for c in first.column_names
                if c not in _PLAIN_COLUMNS]) as out:
            for tbl in itertools.chain([first], tables):
                out.write_table(tbl, row_group_size=_ROW_GROUP_ROWS)
                ids.append(tbl["term_id"].to_numpy())
                ns.append(tbl["n"].to_numpy())
        _publish(d)
        ids, ns = np.concatenate(ids), np.concatenate(ns)
        yield {"bucket": b, **(_term_dfs(ids, ns)[2] if ts_dir is None else
                               _write_term_stats_bucket(ts_dir, b, ids, ns))}


# a written bucket's lineage row: every block writer's task returns these
LINEAGE_SCHEMA = "bucket long, n_terms long, n_blocks long, n_postings long"


def write_blocks(frame: DataFrame, blocks_dir: str, ts_dir: str | None,
                 build: Callable = iter) -> list[dict]:
    """One Spark job whose tasks write their partition's blocks through
    :func:`_write_buckets`: ``frame``'s rows, or what ``build`` (a
    streaming builder of postings or positions) makes of them, so the
    blocks never return to the JVM. Returns the lineage rows of the
    buckets written."""
    def run(batches):
        import pyarrow as pa

        for row in _write_buckets(build(batches), blocks_dir, ts_dir):
            yield pa.RecordBatch.from_pylist([row])

    return [r.asDict() for r in frame.mapInArrow(run, LINEAGE_SCHEMA).collect()]


def _per_bucket(spark: SparkSession, n: int,
                task: Callable[[int], Iterable[dict]]) -> list[dict]:
    """``task(i)`` for each i of ``range(n)`` (a bucket, or the index of
    what its task reads), one Spark task each in ONE job with no
    exchange; returns the lineage rows the tasks yield, in order of i.
    The job is a ``mapInArrow`` over ``spark.range`` with one row per
    partition, so its tasks run in the Python workers the session's
    other Arrow jobs use (an RDD launcher would start a second worker
    pool), and no shuffle lets adaptive execution coalesce them into
    fewer tasks. Every task unpickles the same function: what a task
    alone reads must not ride in ``task``'s closure (:func:`_stage`)."""
    if not n:
        return []

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            for i in rb.column("id").to_pylist():
                rows = list(task(i))
                if rows:
                    yield pa.RecordBatch.from_pylist(rows)

    return [r.asDict() for r in spark.range(0, n, 1, n)
            .mapInArrow(run, LINEAGE_SCHEMA).collect()]


def _stage(path: str, items: list) -> Callable[[int], object]:
    """Writes ``items`` to ONE file at ``path`` (n + 1 int64 offsets,
    then each item pickled) and returns a reader of item i that reads
    only its offsets and bytes, so n tasks read n items in all, where a
    closure holding ``items`` ships all n to each task."""
    import pickle

    blobs = [pickle.dumps(it, protocol=pickle.HIGHEST_PROTOCOL) for it in items]
    offsets = np.zeros(len(blobs) + 1, dtype="<i8")
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    with open(path, "wb") as f:
        f.write(offsets.tobytes())
        f.writelines(blobs)
    data = offsets.nbytes

    def read(i: int):
        with open(path, "rb") as f:
            f.seek(8 * i)
            lo, hi = np.frombuffer(f.read(16), dtype="<i8").tolist()
            f.seek(data + lo)
            return pickle.loads(f.read(hi - lo))

    return read


def _spilled(spark: SparkSession, rows: DataFrame, spill_dir: str,
             n_buckets: int, task: Callable[[int, dict], Iterable[dict]]
             ) -> list[dict]:
    """The positions build's spill (r6): ONE exchange writes ``rows``
    as parquet partitioned by their ``bucket_p`` column, then
    ``task(b, cols)`` runs once per bucket that holds rows, one task each
    (:func:`_per_bucket`), on the bucket's columns read back columnar
    as numpy arrays. Returns the lineage rows the tasks yield.

    Without a repartition every map task writes into every bucket dir:
    n_map x B files, fine up to a few thousand (guide §6). The spill is
    read once and deleted: no dictionary (it cost ~2x on read-back of
    ids); snappy keeps it ~4.5x smaller than raw (uncompressed, its
    writeback competed with every concurrent task)."""
    n_map = rows.rdd.getNumPartitions()
    writer = (rows if n_map * n_buckets <= 16384
              else rows.repartition(n_buckets, "bucket_p"))
    shutil.rmtree(spill_dir, ignore_errors=True)
    try:
        (writer.write.mode("overwrite").partitionBy("bucket_p")
         .option("compression", "snappy")
         .option("parquet.enable.dictionary", "false").parquet(spill_dir))

        def run(b: int) -> Iterable[dict]:
            import pyarrow.dataset as pads

            part = os.path.join(spill_dir, f"bucket_p={b}")
            if not os.path.isdir(part):
                return []
            tbl = pads.dataset(part, format="parquet").to_table()
            if tbl.num_rows == 0:
                return []
            cols = {c: tbl[c].to_numpy(zero_copy_only=False)
                    for c in tbl.column_names}
            del tbl
            return task(b, cols)

        return _per_bucket(spark, n_buckets, run)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)


def adaptive_n_buckets(spark: SparkSession, total_tokens: int) -> int:
    """Derive the postings bucket count from DATA SIZE with a floor at
    the session's parallelism (guide §2.2/§6): one bucket = one output
    file = one build task, so buckets should be few enough that each
    file lands in the ~128 MB-1 GB range at scale (est. ~6 B/posting on
    disk, measured: 188.8 MB index / 29 M postings at sf0.1) and at
    least defaultParallelism so every core works. A fixed 32 cost the
    1-core scaling leg ~0.4 s/task of pure task overhead (measured:
    the identical build_postings stage at 1 core, 32 -> 4 buckets,
    16.8 s -> 5.9 s); at 100 TB the size term dominates and yields
    thousands of buckets, capped at 4096.

    The count is a multiple of the session's parallelism, which is the
    doc pass's spill bucket count when none is pinned: each bucket then
    lies inside one spill bucket (a term id's residue mod the count
    fixes its residue mod the parallelism), so the bucket tasks read
    the spill columnar (:func:`_postings_from_spill`)."""
    par = int(spark.sparkContext.defaultParallelism)
    size_b = max(1, (int(total_tokens) * 6) >> 27)  # / 128 MiB
    return max(1, min(-(-size_b // par) * par, 4096 // par * par or 4096))


# ---------------------------------------------------------------- doc pass

DOC_ROWS_SCHEMA = "doc_id long, url string, dl int"

# A doc pass task spills its postings whenever it holds this many (and
# at its end): ~100 MB of arrays.
_SPILL_FLUSH_ROWS = 1 << 22


def _doc_input(docs_df: DataFrame, text_is_extracted: bool,
               extract_mode: str, title_weight: int):
    """The doc pass's input columns and its extract mode: (url, text[,
    title]) and None for pre-extracted text, else (url, html[,
    source_type]) and ``extract_mode``."""
    if text_is_extracted:
        return docs_df.select(
            "url", "text", *(["title"] if title_weight > 1 else [])), None
    if extract_mode == "html":
        return docs_df.select("url", "html"), "html"
    from ..points import source_type_expr

    return docs_df.select("url", "html", source_type_expr("url")), "any"


def _doc_texts(rb, extract_mode: str | None, title_weight: int):
    """(urls, texts, titles) of one input batch of the doc pass,
    extracted here unless ``extract_mode`` is None. ``titles`` holds
    Nones when ``title_weight`` is 1."""
    from .. import extraction

    urls = rb.column("url").to_pylist()
    titles = [None] * len(urls)
    if extract_mode is None:
        texts = rb.column("text").to_pylist()
        if title_weight > 1:
            titles = rb.column("title").to_pylist()
    elif title_weight > 1:
        pairs = list(map(extraction.extract_text_title,
                         rb.column("html").to_pylist()))
        texts, titles = [t for t, _ in pairs], [ti for _, ti in pairs]
    elif extract_mode == "html":
        texts = list(map(extraction.extract_text, rb.column("html").to_pylist()))
    else:
        texts = list(map(extraction.extract_text_any,
                         rb.column("html").to_pylist(),
                         rb.column("source_type").to_pylist()))
    return urls, texts, titles


def _doc_tokens(text: str | None, title: str | None,
                title_weight: int) -> list[str]:
    """A doc's tokens (analysis.tokenize): its text's, then its title's
    ``title_weight - 1`` more times — BM25F field weighting in its
    field-concatenation form (Robertson & Zaragoza 2009 §3.3: an integer
    field weight is the field's tokens repeated, sharing one length
    normalization), so tf and dl carry the weight and df does not. A
    missing text or title has no tokens."""
    toks = analysis.tokenize(text or "")
    if title_weight > 1:
        toks += analysis.tokenize(title or "") * (title_weight - 1)
    return toks


def _doc_counts(texts: list, titles: list, title_weight: int):
    """analysis.term_counts of a batch's docs, whose tokens are
    :func:`_doc_tokens`': a doc's title is appended to its text, after
    a separator, ``title_weight - 1`` times."""
    if title_weight > 1:
        texts = [(t or "") + ("\n" + (ti or "")) * (title_weight - 1)
                 for t, ti in zip(texts, titles)]
    return analysis.term_counts(texts)


def _spill(out, path: str, pending: list, n_buckets: int):
    """Appends ``pending`` (term_id, doc_id, tfdl) arrays to a task's
    spill file, opening ``out``, its writer, on first use: one row
    group per bucket (``term_id`` pmod ``n_buckets``, also stored as
    the ``bucket`` column, whose row-group statistics name it). Returns
    the writer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    terms, docs, tfdl = (np.concatenate(c) for c in zip(*pending))
    bucket = (terms % n_buckets).astype(np.int32)
    order = np.argsort(bucket)
    bucket = bucket[order]
    tbl = pa.table({"term_id": terms[order], "doc_id": docs[order],
                    "tfdl": tfdl[order], "bucket": bucket})
    if out is None:
        # read once and deleted: snappy, and no dictionary but on the
        # one-value-per-row-group bucket column
        out = pq.ParquetWriter(path, tbl.schema, compression="snappy",
                               use_dictionary=["bucket"])
    starts = np.flatnonzero(np.diff(bucket, prepend=-1)).tolist()
    for lo, hi in zip(starts, starts[1:] + [len(bucket)]):
        out.write_table(tbl.slice(lo, hi - lo), row_group_size=hi - lo)
    return out


def _doc_pass(src: DataFrame, extract_mode: str | None, title_weight: int,
              spill_dir: str, n_buckets: int) -> DataFrame:
    """THE doc pass: one mapInArrow from the input's (url, text|html)
    to postings. Per doc it extracts (unless ``extract_mode`` is None);
    per input batch one set of NumPy kernels tokenizes, hashes and
    counts every doc's terms (:func:`_doc_counts`,
    analysis.term_counts) to one posting per distinct term of a doc,
    with no Python object per token. Each task writes
    its postings, grouped by bucket of ``n_buckets``, as ONE parquet
    file under ``spill_dir`` (none when it has no postings), through a
    temp file, so a retried task replaces its file whole. The frame's
    rows are the docs' (doc_id, url, dl): nothing token-sized returns
    to the JVM."""
    tw, nb = int(title_weight), int(n_buckets)

    def run(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = os.path.join(spill_dir, f"part-{ctx.partitionId():05d}.parquet")
        tmp = os.path.join(spill_dir, f".{ctx.partitionId()}-"
                           f"{ctx.attemptNumber()}.tmp")
        pending, held, out = [], 0, None
        try:
            for rb in batches:
                urls, texts, titles = _doc_texts(rb, extract_mode, tw)
                docs, terms, tfs, dls = _doc_counts(texts, titles, tw)
                doc_ids = np.fromiter(map(analysis.doc_id_for_url, urls),
                                      np.int64, len(urls))
                pending.append((terms, doc_ids[docs],
                                (tfs << np.int64(32)) | dls[docs]))
                held += len(terms)
                if held >= _SPILL_FLUSH_ROWS:
                    out, pending, held = _spill(out, tmp, pending, nb), [], 0
                yield pa.record_batch({
                    "doc_id": doc_ids, "url": pa.array(urls, pa.string()),
                    "dl": dls.astype(np.int32)})
            if held:
                out = _spill(out, tmp, pending, nb)
            if out is not None:
                out.close()
                out = None
                os.replace(tmp, part)
        except BaseException:
            if out is not None:
                out.close()
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    return src.mapInArrow(run, DOC_ROWS_SCHEMA)


def _survivors(src: DataFrame, extract_mode: str | None,
               title_weight: int) -> DataFrame:
    """(url, text[, title]) of the doc pass input ``src`` with one row
    per doc_id: the one whose tokens have the highest
    md5(" ".join(tokens)), then the highest dl. The choice is by
    content, not by partition order, so a re-run builds the same index
    even when one url arrives with two texts (the merge's upsert
    semantics). The text is extracted here, once."""
    import pyarrow as pa
    from pyspark.sql import Window

    keep = ["url", "text"] + (["title"] if title_weight > 1 else [])
    schema = pa.schema([(c, pa.string()) for c in keep]
                       + [("key", pa.string()), ("dl", pa.int32())])

    def run(batches):
        import hashlib

        for rb in batches:
            urls, texts, titles = _doc_texts(rb, extract_mode, title_weight)
            toks = [_doc_tokens(t, ti, title_weight)
                    for t, ti in zip(texts, titles)]
            keys = [hashlib.md5(" ".join(t).encode()).hexdigest() for t in toks]
            yield pa.RecordBatch.from_arrays(
                [urls, texts, titles][:len(keep)] + [keys, list(map(len, toks))],
                schema=schema)

    w = Window.partitionBy(doc_id_expr("url")).orderBy(F.desc("key"),
                                                       F.desc("dl"))
    ddl = ", ".join(f"{c} string" for c in keep) + ", key string, dl int"
    return (src.mapInArrow(run, ddl)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).select(*keep))


def _spill_parts(spill_dir: str) -> dict[int, list]:
    """bucket -> [(file, row groups, rows)] of a doc pass's spill files,
    read from their footers."""
    import pyarrow.parquet as pq

    parts: dict[int, list] = {}
    for name in sorted(os.listdir(spill_dir)):
        if not name.startswith("part-"):
            continue
        path = os.path.join(spill_dir, name)
        md = pq.read_metadata(path)
        col = md.schema.names.index("bucket")
        per: dict[int, list] = {}
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            per.setdefault(rg.column(col).statistics.min, []).append(
                (i, rg.num_rows))
        for b, rgs in per.items():
            parts.setdefault(b, []).append(
                (path, [i for i, _ in rgs], sum(n for _, n in rgs)))
    return parts


def _postings_from_spill(spark: SparkSession, spill_dir: str,
                         spill_buckets: int, postings_dir: str,
                         ts_dir: str | None, *, block_size: int,
                         n_buckets: int, salt_df_threshold: int,
                         salt_count: int, seg: int) -> list[dict]:
    """Postings (and term_stats unless ``ts_dir`` is None) of the doc
    pass's spill, grouped by ``spill_buckets`` buckets; returns each
    written bucket's lineage row.

    When ``n_buckets`` is a multiple k of ``spill_buckets``, each index
    bucket lies inside one spill bucket, and tasks read the spill
    columnar: a spill bucket's row groups of every spill file go to one
    task, or to g tasks when its postings (24 B each) are over
    ``BUCKET_MEM_BUDGET``, each keeping every g-th of the bucket's k
    index buckets. A task numpy-lexsorts its rows, builds their blocks
    and writes them (:func:`_collapse_build_bucket`,
    :func:`_write_buckets`). Else (another count, or an index bucket
    over the budget) the streaming builder, whose carry bounds a task's
    memory, takes the spill files as a Spark frame (:func:`_clustered`,
    :func:`write_blocks`). All give the same files."""
    bs, nb, sb, thr, sc, sg = (int(block_size), int(n_buckets),
                               int(spill_buckets), int(salt_df_threshold),
                               int(salt_count), int(seg))
    parts = _spill_parts(spill_dir)
    biggest = max((sum(p[2] for p in v) for v in parts.values()), default=0)
    k, rem = divmod(nb, sb)
    groups = next((g for g in range(1, k + 1)
                   if biggest * 24 <= BUCKET_MEM_BUDGET * g), None)
    if rem or groups is None:
        if not parts:
            return []
        rows = spark.read.schema(
            "term_id long, doc_id long, tfdl long").parquet(spill_dir)
        return write_blocks(
            _clustered(rows, nb), postings_dir, ts_dir,
            build=_make_partition_builder(
                bs, nb, sg, salt_df_threshold=thr, salt_count=sc))

    def build(item) -> list[dict]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        j, files = item
        tables = []
        for path, rgs, _ in files:
            f = pq.ParquetFile(path)
            for i in rgs:
                tbl = f.read_row_group(i, columns=["term_id", "doc_id", "tfdl"])
                if groups > 1:
                    tbl = tbl.filter(
                        tbl["term_id"].to_numpy() % nb // sb % groups == j)
                tables.append(tbl)
        tbl = pa.concat_tables(tables)
        del tables
        if tbl.num_rows == 0:
            return []
        cols = [tbl[c].to_numpy() for c in ("term_id", "doc_id", "tfdl")]
        del tbl
        rb = _collapse_build_bucket(
            *cols, block_size=bs, n_buckets=nb, salt_df_threshold=thr,
            salt_count=sc, seg=sg)
        return list(_write_buckets([rb], postings_dir, ts_dir))

    # a spill bucket's files are one entry per doc-pass task: each task
    # reads its own item from the spill dir
    item = _stage(os.path.join(spill_dir, "_items"), [
        (j, files) for _, files in sorted(parts.items())
        for j in range(groups)])
    return _per_bucket(spark, len(parts) * groups, lambda i: build(item(i)))


def build_index(spark: SparkSession, docs_df: DataFrame, index_dir: str, *,
                text_is_extracted: bool = True,
                extract_mode: str = "html",
                k1: float = analysis.K1, b: float = analysis.B,
                block_size: int = analysis.BLOCK_SIZE,
                n_buckets: int | None = None,
                salt_df_threshold: int = analysis.SALT_DF_THRESHOLD,
                salt_count: int = analysis.SALT_COUNT,
                staging: bool = False, seg: int = 0,
                title_weight: int = 1,
                meta_cols: tuple = ()) -> IndexStorage:
    """End-to-end build. ``docs_df`` needs (url, text) — or (url, html)
    with ``text_is_extracted=False`` to extract the text first:
    ``extract_mode="html"`` treats every payload as HTML (the webtext
    default), ``extract_mode="any"`` dispatches on the url extension
    across all 11 reference formats (extraction.extract_elements_any).
    ``staging=True`` writes no term_stats and no lineage: the merge
    recomputes each bucket's df from its merged blocks, so a delta's
    own df would never be read. ``seg``: segment id stamped on every block
    (segment-mode merges build the delta directly as its target segment,
    index/merge.py). ``title_weight`` > 1 builds a BM25F
    field-weighted index (title tokens counted ``title_weight`` times,
    shared length normalization — see _doc_tokens): with
    ``text_is_extracted=False`` the title field comes out of the HTML
    parse (Title elements); with pre-extracted text the input must
    carry a ``title`` column.

    ``meta_cols``: input columns (e.g. the webtext table's warc_ts /
    lang) carried into doc_stats, so metadata filters (P7 search
    where=) and facet_counts run off the INDEX's own doc table — no
    caller-side corpus join at query time. Costs one doc-level join at
    build time; duplicate-url inputs fold per column via max
    (deterministic — the postings side already dedups to one
    survivor).

    The input goes through spread_input, then the doc pass
    (:func:`_doc_pass`), which spills each task's postings to one file
    grouped by bucket: the pinned ``n_buckets``, else the session's
    parallelism, adaptive_n_buckets' floor. Its (doc_id, url, dl) rows
    are persisted (a few bytes per doc) and feed the corpus stats, the
    duplicate-url check and doc_stats. Postings and term_stats come
    from the spill (:func:`_postings_from_spill`) and are written
    through the one postings writer (:func:`_write_buckets`). Each
    phase's Spark jobs carry its name as their job description (see
    the module notes); the caller's description is restored."""
    if extract_mode not in ("html", "any"):
        raise ValueError(f"unknown extract_mode: {extract_mode!r}")
    if title_weight < 1:
        raise ValueError("title_weight must be >= 1")
    if title_weight > 1:
        if not text_is_extracted and extract_mode != "html":
            raise ValueError("title_weight needs extract_mode='html' "
                             "(titles come from the HTML parse)")
        if text_is_extracted and "title" not in docs_df.columns:
            raise ValueError("title_weight > 1 with pre-extracted text "
                             "needs a 'title' column")
    missing = [c for c in meta_cols if c not in docs_df.columns]
    if missing:
        raise ValueError(f"meta_cols not in the input frame: {missing}")
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    store = IndexStorage(index_dir)
    src, mode = _doc_input(spread_input(spark, docs_df), text_is_extracted,
                           extract_mode, title_weight)
    spill_buckets = int(n_buckets or spark.sparkContext.defaultParallelism)
    postings_dir = store.postings_dir_for(0)
    ts_dir = None if staging else store.term_stats_dir_for(0)
    spill_dir = postings_dir.rstrip("/") + "._tfspill"

    def _stats_agg(src, mode):
        # the first action on the doc rows: it runs the doc pass
        shutil.rmtree(spill_dir, ignore_errors=True)
        os.makedirs(spill_dir)
        rows = _doc_pass(src, mode, title_weight, spill_dir,
                         spill_buckets).persist(StorageLevel.MEMORY_AND_DISK)
        # one exchange, by doc_id: the counts are observed metrics of
        # an action that returns no rows (countDistinct takes two)
        obs = Observation()
        with job_description(spark, "build:extract"):
            (rows.groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl"))
             .observe(obs, F.sum("n").alias("n_docs"),
                      F.count(F.lit(1)).alias("n_uniq"),
                      F.sum("dl").alias("total_tokens"))
             .where(F.col("n") < 0).collect())
        return rows, [int(obs.get[k] or 0)
                      for k in ("n_docs", "n_uniq", "total_tokens")]

    try:
        doc_rows, (n_docs, n_uniq, total_tokens) = _stats_agg(src, mode)
        # Input-uniqueness guard: duplicate urls would double-count
        # n_docs / dl and emit duplicate postings (doc scored twice,
        # diverging from the oracle's upsert-by-doc_id semantics). Only
        # a duplicate pays the second pass, over the survivors' text.
        if n_docs != n_uniq:
            doc_rows.unpersist()
            doc_rows, (n_docs, _, total_tokens) = _stats_agg(
                _survivors(src, mode, title_weight), None)
        # Spark's avg: a double sum (exact below 2^53) over the count
        avgdl = total_tokens / n_docs if n_docs else 0.0
        if n_buckets is None:  # scale-adaptive layout (see adaptive_n_buckets)
            n_buckets = adaptive_n_buckets(spark, total_tokens)

        stats_df = doc_rows
        if meta_cols:
            meta_df = docs_df.groupBy("url").agg(
                *[F.max(c).alias(c) for c in meta_cols])
            stats_df = stats_df.join(meta_df, "url", "left").select(
                "doc_id", "url", "dl", *meta_cols)
        with job_description(spark, "build:doc_stats"):
            store.catalog.overwrite(stats_df, store.doc_stats_dir_for(0))
            store.write_corpus_stats(spark, 0, n_docs, avgdl, total_tokens)
        doc_rows.unpersist()

        for d in filter(None, (postings_dir, ts_dir)):
            shutil.rmtree(d, ignore_errors=True)
        with job_description(spark, "build:postings"):
            lineage = _postings_from_spill(
                spark, spill_dir, spill_buckets, postings_dir, ts_dir,
                block_size=block_size, n_buckets=n_buckets,
                salt_df_threshold=salt_df_threshold, salt_count=salt_count,
                seg=seg)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)
    if ts_dir is not None:
        _append_lineage(spark, store, lineage, phase="build", epoch=0)
    # every bucket gets a dir, empty ones too: merges and compactions
    # read a missing bucket dir as lost data and refuse to go on
    for d in filter(None, (postings_dir, ts_dir)):
        for bkt in range(n_buckets):
            os.makedirs(os.path.join(d, f"bucket={bkt}"), exist_ok=True)

    store.write_manifest({
        "engine": "super_rag_spark", "version": 5,  # 4 = +seg column; 5 = xxhash64 term ids
        "k1": k1, "b": b, "block_size": block_size, "n_buckets": n_buckets,
        "salt_df_threshold": salt_df_threshold, "salt_count": salt_count,
        "n_docs": n_docs, "avgdl": avgdl, "epoch": 0, "seg": seg,
        "n_segments": 1,  # segment-mode merges increment; compact resets
        "tokenizer": "[a-z0-9]+ lowercase",
        "title_weight": title_weight,
        "meta_cols": list(meta_cols),
    })
    return store


def write_term_stats_and_lineage(spark: SparkSession, store: IndexStorage, *,
                                 phase: str, epoch: int,
                                 buckets: Iterable[int]) -> None:
    """term_stats + lineage of ``buckets`` of ``epoch``, from the
    buckets' postings files — for an append's hit and staged buckets,
    whose dirs hold the old blocks' file next to the staging file; every
    other writer writes term_stats with the blocks (:func:`_write_buckets`).
    ONE Spark job, one task per bucket, each reading only its blocks'
    ``term_id`` and ``n`` columns and writing the bucket's term_stats
    through :func:`_write_term_stats_bucket`. A re-run replaces what an earlier
    attempt left. Each bucket that holds postings then gets a lineage
    record of ``phase``. A missing postings bucket dir is lost data:
    FileNotFoundError naming the bucket, before any task runs."""
    pdirs = [(b, store.bucket_dir("postings", epoch, b)) for b in buckets]
    ts_dir = store.term_stats_dir_for(epoch)

    def run(i: int) -> list[dict]:
        import pyarrow as pa
        import pyarrow.dataset as pads

        b, pdir = pdirs[i]
        cols = pa.schema([("term_id", pa.int64()), ("n", pa.int32())])
        tbl = pads.dataset(pdir, format="parquet", schema=cols).to_table()
        return [{"bucket": b, **_write_term_stats_bucket(
            ts_dir, b, tbl["term_id"].to_numpy(), tbl["n"].to_numpy())}]

    _append_lineage(spark, store, _per_bucket(spark, len(pdirs), run),
                    phase=phase, epoch=epoch)


def _append_lineage(spark: SparkSession, store: IndexStorage,
                    rows: list[dict], *, phase: str, epoch: int) -> None:
    """One committed lineage record per bucket row that holds blocks."""
    store.append_lineage(spark, [
        dict(r, phase=phase, epoch=epoch, status="committed")
        for r in rows if r["n_blocks"]])
