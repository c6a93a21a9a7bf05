"""Distributed inverted-index build (SURVEY.md §3.1 "Spark rebuild").

Replaces the reference ingest pipeline (HTTP fetch -> unstructured.io ->
embed -> vector-DB upsert, /root/reference/api/ingest.py:15-62 and
/root/reference/service/embedding.py:153-296) with:

  scan -> extract (mapInPandas) -> tokenize (JVM expr) -> explode ->
  one shuffle by term-hash bucket -> per-bucket posting-block build
  with in-partition head-term salting (NumPy codec) -> per-bucket
  postings + term_stats files written by that same task + doc_stats +
  corpus_stats + per-bucket lineage

Scale notes (100 TB / 10^12 docs):
- tokenization is a pure Catalyst expression (lower + split + filter):
  whole-stage codegen, no Python on the hot path.
- the only big shuffle is the one by term-hash bucket: the block
  builder sums tf over (term, doc) runs and sees each term's df as its
  group size, so there is no tf aggregation and no df join.
- head-term skew (Zipf: "the" at 10^12 docs has ~10^11 postings) is
  handled by *contiguous-range* salting: salt = top bits of doc_id for
  terms with df > threshold, so one reducer never sees more than
  df/SALT_COUNT postings AND concatenating salt groups in salt order
  yields globally sorted, non-overlapping blocks (WAND-safe).
- document length is stored inline in each posting block (dls_enc), so
  the query path never joins doc_stats — see codec.py.
- input skew: Spark splits a parquet scan by row group, so a corpus
  written as one file with one row group is read by ONE task, and the
  extraction UDF, the persisted tokens and the postings spill all stay
  in that one partition while the other cores idle. spread_input
  round-robins such an input over every core before extraction (the
  DS2 data-stealing idea: balance before the expensive operator). An
  input with more splits than cores is left alone: the scheduler
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


def extract_with_title(webtext_df: DataFrame) -> DataFrame:
    """(url, html, ...) -> (url, text, title): one parse feeding both
    the flat text (byte-identical to extract()) and the title field
    (Title-typed elements) for BM25F weighting."""
    from ..extraction import (EXTRACT_TITLE_SCHEMA,
                              extract_text_title_map_in_pandas)

    return webtext_df.select("url", "html").mapInPandas(
        extract_text_title_map_in_pandas, schema=EXTRACT_TITLE_SCHEMA
    )


def tokens_from_text(df: DataFrame, url_col: str = "url", text_col: str = "text",
                     title_weight: int = 1) -> DataFrame:
    """(url, text[, title]) -> (doc_id, url, tokens, dl).

    ``title_weight`` > 1 applies BM25F field weighting in its
    field-concatenation form (Robertson & Zaragoza 2009 §3.3: integer
    field weights == repeating the field's tokens, sharing one length
    normalization): the title's tokens are appended ``title_weight-1``
    extra times, so tf and dl both carry the weight and EVERYTHING
    downstream — postings, WAND bounds, merges, sidecars — works
    unchanged. df is untouched (repetition never changes membership).
    Pure Catalyst (flatten(array_repeat(...))), no UDF."""
    toks = tokens_expr(text_col)
    if title_weight > 1:
        toks = F.concat(
            toks,
            F.flatten(F.array_repeat(tokens_expr("title"),
                                     title_weight - 1)),
        )
    return (
        df.select(
            doc_id_expr(url_col).alias("doc_id"),
            F.col(url_col).alias("url"),
            toks.alias("tokens"),
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
    summed, which makes the two identical — so the index build can skip
    the tf groupBy exchange entirely and merge can keep feeding decoded
    postings. A term is salted (salt = doc_id's top bits) when its df
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
    return _clustered(tf_df, n_buckets).mapInArrow(builder,
                                                   schema=POSTINGS_SCHEMA)


def _packed(tf_df: DataFrame, n_buckets: int) -> DataFrame:
    """(term_id, doc_id, tfdl, bucket_p) of tf rows; tf < 2^31 and
    dl < 2^32, so tfdl = tf<<32 | dl round-trips exactly with one
    column fewer to exchange."""
    return (
        tf_df
        .withColumn("bucket_p", F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int"))
        .withColumn("tfdl", F.expr(
            "shiftleft(CAST(tf AS BIGINT), 32) + CAST(dl AS BIGINT)"))
        .select("term_id", "doc_id", "tfdl", "bucket_p")
    )


def _clustered(tf_df: DataFrame, n_buckets: int) -> DataFrame:
    """The streaming builder's input: ONE shuffle by the output bucket,
    each partition sorted by (bucket, term_id, doc_id), so a task's
    blocks come out in the order :func:`_write_buckets` takes."""
    return (_packed(tf_df, n_buckets)
            .repartition(n_buckets, "bucket_p")
            .sortWithinPartitions("bucket_p", "term_id", "doc_id")
            .select("term_id", "doc_id", "tfdl"))


def _collapse_build_bucket(terms, docs, tfdl, *, block_size: int,
                           n_buckets: int, salt_df_threshold: int,
                           salt_count: int, seg: int):
    """Whole-bucket block build over UNSORTED arrays: one numpy
    lexsort, then :func:`_collapse_build`. (r6, measured sf0.1 at 1
    core: Spark's row sort and row->Arrow pipe took 48 s + ~25 s for
    34 M rows, the same sort as one lexsort 7.5 s.)"""
    order = np.lexsort((docs, terms))
    return _collapse_build(
        terms[order], docs[order], tfdl[order], block_size=block_size,
        n_buckets=n_buckets, salt_df_threshold=salt_df_threshold,
        salt_count=salt_count, seg=seg)


# one bucket's raw (term_id, doc_id, tfdl) arrays must fit a task for
# the columnar path; adaptive_n_buckets sizes buckets ~6x smaller than
# this, so the fallback only triggers when a caller pins a small
# n_buckets on a huge corpus
BUCKET_MEM_BUDGET = 2 << 30


def _fits_a_task(total_bytes: int, n_buckets: int) -> bool:
    """Whether a bucket's share of a build's raw rows fits a task: the
    postings and positions builds take the spill if so, else their
    streaming builder."""
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

    return [r.asDict() for r in frame.mapInArrow(
        run, "bucket long, n_terms long, n_blocks long, n_postings long"
    ).collect()]


def _per_bucket(spark: SparkSession, buckets: list[int],
                task: Callable[[int], dict | None]) -> list[dict]:
    """``task(b)`` for each bucket ``b``, one Spark task per bucket in
    ONE job with no exchange; returns the tasks' non-None results. A
    shuffled launcher would let adaptive execution coalesce buckets
    into fewer tasks."""
    if not buckets:
        return []
    rows = (spark.sparkContext.parallelize(buckets, len(buckets))
            .map(task).collect())
    return [r for r in rows if r is not None]


def _spilled(spark: SparkSession, rows: DataFrame, spill_dir: str,
             n_buckets: int, task: Callable[[int, dict], dict | None]
             ) -> list[dict]:
    """THE spill (r6): ONE exchange writes ``rows`` as parquet
    partitioned by their ``bucket_p`` column, then ``task(b, cols)``
    runs once per bucket that holds rows, one task each
    (:func:`_per_bucket`), on the bucket's columns read back columnar
    as numpy arrays. Returns the tasks' non-None results.

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

        def run(b: int) -> dict | None:
            import pyarrow.dataset as pads

            part = os.path.join(spill_dir, f"bucket_p={b}")
            if not os.path.isdir(part):
                return None
            tbl = pads.dataset(part, format="parquet").to_table()
            if tbl.num_rows == 0:
                return None
            cols = {c: tbl[c].to_numpy(zero_copy_only=False)
                    for c in tbl.column_names}
            del tbl
            return task(b, cols)

        return _per_bucket(spark, list(range(n_buckets)), run)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)


def build_postings_bucketed(spark: SparkSession, tf_df: DataFrame,
                            postings_dir: str, term_stats_dir: str | None, *,
                            block_size: int = analysis.BLOCK_SIZE,
                            n_buckets: int = analysis.N_BUCKETS,
                            salt_df_threshold: int = analysis.SALT_DF_THRESHOLD,
                            salt_count: int = analysis.SALT_COUNT,
                            seg: int = 0,
                            spill_dir: str | None = None) -> list[dict]:
    """The spill build: the raw (term_id, doc_id, tfdl) rows go through
    :func:`_spilled`; each bucket's task numpy-lexsorts them, builds the
    blocks and writes them with :func:`_write_buckets`, term_stats too
    unless ``term_stats_dir`` is None. Returns the lineage row of each
    bucket that holds postings. It moves the bytes a shuffle would, but
    skips Spark's row sort and the row->Arrow transpose of every
    posting; a bucket's arrays must fit a task (:func:`_fits_a_task`)."""
    bs, nb, thr, sc, sg = (int(block_size), int(n_buckets),
                           int(salt_df_threshold), int(salt_count), int(seg))

    def build(b: int, cols: dict) -> dict:
        rb = _collapse_build_bucket(
            cols.pop("term_id"), cols.pop("doc_id"), cols.pop("tfdl"),
            block_size=bs, n_buckets=nb, salt_df_threshold=thr,
            salt_count=sc, seg=sg)
        return next(_write_buckets([rb], postings_dir, term_stats_dir))

    os.makedirs(postings_dir, exist_ok=True)
    return _spilled(spark, _packed(tf_df, n_buckets),
                    spill_dir or postings_dir.rstrip("/") + "._tfspill",
                    n_buckets, build)


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
    thousands of buckets, capped at 4096."""
    par = int(spark.sparkContext.defaultParallelism)
    size_b = max(1, (int(total_tokens) * 6) >> 27)  # / 128 MiB
    return max(1, min(4096, max(par, size_b)))


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
    with ``text_is_extracted=False`` to run the extraction UDF first:
    ``extract_mode="html"`` treats every payload as HTML (the webtext
    default), ``extract_mode="any"`` dispatches on the url extension
    across all 11 reference formats (extraction.extract_elements_any).
    ``staging=True`` writes no term_stats and no lineage: the merge
    recomputes each bucket's df from its merged blocks, so a delta's
    own df would never be read. ``seg``: segment id stamped on every block
    (segment-mode merges build the delta directly as its target segment,
    index/merge.py). ``title_weight`` > 1 builds a BM25F
    field-weighted index (title tokens counted ``title_weight`` times,
    shared length normalization — see tokens_from_text): with
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

    The input goes through spread_input before extraction: a corpus in
    fewer splits than cores (one parquet row group, say) would run the
    extraction UDF, the persisted tokens and the postings spill on as
    many cores as it has splits. Wider inputs are read as they are.
    Postings come from the spill (build_postings_bucketed) whenever one
    bucket's raw rows fit a task (:func:`_fits_a_task`), tiny deltas
    included, and from the streaming builder otherwise. Both write
    through the one postings writer (:func:`_write_buckets`), so the
    two give byte-identical postings and term_stats files. Each phase's
    Spark jobs carry its name as their job description (see the module
    notes); the caller's description is restored."""
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
    meta_src = docs_df
    store = IndexStorage(index_dir)

    docs_df = spread_input(spark, docs_df)
    if not text_is_extracted:
        if title_weight > 1:
            docs_df = extract_with_title(docs_df)
        else:
            docs_df = extract(docs_df) if extract_mode == "html" else extract_any(docs_df)
    # The extraction + tokenize scan feeds doc_stats, corpus stats AND
    # the postings spill; persist it so the (expensive) extraction UDF
    # runs once. (r6 note: a no-persist variant re-running extraction
    # per consumer pass was A/B-measured WORSE at 1 core / sf0.1 —
    # min 120 s vs 97 s — the second extraction+tokenize pass costs
    # more than materializing this cache. On a cluster this would be a
    # checkpoint table — locally MEMORY_AND_DISK is the same idea.)
    from pyspark import StorageLevel

    toks = tokens_from_text(docs_df, title_weight=title_weight).persist(
        StorageLevel.MEMORY_AND_DISK)

    def _stats_agg(df):
        # the first action on the persisted tokens: it runs extraction
        with job_description(spark, "build:extract"):
            return df.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("doc_id").alias("n_uniq"),
                F.avg("dl").alias("avgdl"),
                F.sum("dl").alias("total_tokens"),
            ).collect()[0]

    # Input-uniqueness guard: duplicate urls would double-count n_docs /
    # dl and emit duplicate postings (doc scored twice, diverging from
    # the oracle's upsert-by-doc_id semantics). The dedup shuffle runs
    # ONLY when a duplicate is actually present.
    st = _stats_agg(toks)
    if int(st["n_docs"]) != int(st["n_uniq"]):
        # deterministic survivor (dropDuplicates keeps a partition-order-
        # dependent row): max content hash per doc_id, so re-runs build
        # bit-identical indexes even when one url arrives with two texts —
        # matching the merge path's defined upsert semantics
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(
            F.md5(F.concat_ws(" ", "tokens")).desc(), F.desc("dl"))
        deduped = (toks.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") == 1).drop("_rn")
                   .persist(StorageLevel.MEMORY_AND_DISK))
        toks.unpersist()
        toks = deduped
        st = _stats_agg(toks)
    n_docs = int(st["n_docs"])
    avgdl = float(st["avgdl"]) if st["avgdl"] is not None else 0.0
    if n_buckets is None:  # scale-adaptive layout (see adaptive_n_buckets)
        n_buckets = adaptive_n_buckets(spark, int(st["total_tokens"] or 0))

    stats_df = toks.select("doc_id", "url", "dl")
    if meta_cols:
        meta_df = meta_src.groupBy("url").agg(
            *[F.max(c).alias(c) for c in meta_cols])
        stats_df = stats_df.join(meta_df, "url", "left").select(
            "doc_id", "url", "dl", *meta_cols)
    with job_description(spark, "build:doc_stats"):
        store.catalog.overwrite(stats_df, store.doc_stats_dir_for(0))
        store.catalog.overwrite(
            spark.createDataFrame(
                [(n_docs, avgdl, int(st["total_tokens"] or 0))],
                "n_docs long, avgdl double, total_tokens long"),
            store.corpus_stats_dir_for(0))

    # Token occurrences go STRAIGHT to the block builder (r6): the
    # former explode -> groupBy(term,doc) tf aggregation was a second
    # full exchange over postings-sized data, and its output had exactly
    # one consumer once the df/salt join moved into the builder — the
    # builder now sums tf over contiguous (term, doc) runs itself, so
    # the whole postings path is ONE shuffle (by bucket) end to end and
    # nothing postings-sized is ever persisted (guide §2.4; the old tf
    # cache was also a 100 TB liability). An in-row run-length
    # alternative (sort_array + higher-order fns) was measured WORSE:
    # Catalyst re-inlines lambda sub-expressions (no CSE inside HOFs),
    # going O(dl^2) per doc.
    tf = (
        toks.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .select(term_id_expr("term").alias("term_id"), "doc_id",
                F.lit(1).alias("tf"), "dl")
    )
    postings_dir = store.postings_dir_for(0)
    ts_dir = None if staging else store.term_stats_dir_for(0)
    for d in filter(None, (postings_dir, ts_dir)):
        shutil.rmtree(d, ignore_errors=True)
    with job_description(spark, "build:postings"):
        if _fits_a_task(int(st["total_tokens"] or 0) * 24, n_buckets):
            # the spill: columnar per-bucket build (r6), one exchange +
            # a numpy sort per bucket (see build_postings_bucketed)
            lineage = build_postings_bucketed(
                spark, tf, postings_dir, ts_dir,
                block_size=block_size, n_buckets=n_buckets,
                salt_df_threshold=salt_df_threshold, salt_count=salt_count,
                seg=seg)
        else:
            # over-budget buckets: the streaming builder, whose carry
            # bounds a task's memory, writes its blocks in its own task
            lineage = write_blocks(
                _clustered(tf, n_buckets), postings_dir, ts_dir,
                build=_make_partition_builder(
                    block_size, n_buckets, seg,
                    salt_df_threshold=salt_df_threshold,
                    salt_count=salt_count))
    toks.unpersist()
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
    pdirs = {b: store.bucket_dir("postings", epoch, b) for b in buckets}
    ts_dir = store.term_stats_dir_for(epoch)

    def run(b: int) -> dict:
        import pyarrow as pa
        import pyarrow.dataset as pads

        cols = pa.schema([("term_id", pa.int64()), ("n", pa.int32())])
        tbl = pads.dataset(pdirs[b], format="parquet",
                           schema=cols).to_table()
        return {"bucket": b, **_write_term_stats_bucket(
            ts_dir, b, tbl["term_id"].to_numpy(), tbl["n"].to_numpy())}

    _append_lineage(spark, store, _per_bucket(spark, list(pdirs), run),
                    phase=phase, epoch=epoch)


def _append_lineage(spark: SparkSession, store: IndexStorage,
                    rows: list[dict], *, phase: str, epoch: int) -> None:
    """One committed lineage record per bucket row that holds blocks."""
    store.append_lineage(spark, [
        dict(r, phase=phase, epoch=epoch, status="committed")
        for r in rows if r["n_blocks"]])
