"""Distributed inverted-index build (SURVEY.md §3.1 "Spark rebuild").

Replaces the reference ingest pipeline (HTTP fetch -> unstructured.io ->
embed -> vector-DB upsert, /root/reference/api/ingest.py:15-62 and
/root/reference/service/embedding.py:153-296) with:

  scan -> extract (mapInPandas) -> tokenize (JVM expr) -> explode ->
  tf agg -> df agg + join -> head-term salting -> per-(term,salt)
  posting-block build (applyInPandas, NumPy codec) -> partitioned write
  + doc_stats + corpus_stats + per-bucket lineage

Scale notes (100 TB / 10^12 docs):
- tokenization is a pure Catalyst expression (lower + split + filter):
  whole-stage codegen, no Python on the hot path.
- tf agg gets automatic map-side partial aggregation; the only big
  shuffles are (term,doc_id) for tf and term for the df join — both
  hash-partitioned by Catalyst, AQE coalesces.
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
- every Spark job build_index runs is named by its phase
  (``build:extract``, ``build:doc_stats``, ``build:postings``, and on
  the streaming path ``build:stats``) in the UI and the event log.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd
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

    n = len(terms)

    # Fully vectorized (r3): the former per-block loop paid
    # ~30 small-array NumPy dispatches per block — at 172 k blocks /
    # sf0.1 that loop WAS the build bottleneck once extraction got
    # fast. Instead: derive every block boundary index-side, varint-
    # encode each stream ONCE for the whole batch, and carve per-block
    # buffers at cumulative byte offsets (LEB128 is per-value
    # independent, so the slices are bit-identical to per-block
    # encodes — asserted by test_vectorized_block_builder_bit_identity).
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    np.not_equal(terms[1:], terms[:-1], out=new_group[1:])
    new_group[1:] |= salts[1:] != salts[:-1]
    group_starts = np.flatnonzero(new_group)
    group_id = np.cumsum(new_group) - 1          # per posting row
    off_in_group = np.arange(n) - group_starts[group_id]
    is_block_start = new_group | (off_in_group % block_size == 0)
    block_starts = np.flatnonzero(is_block_start)
    block_ends = np.concatenate((block_starts[1:], [n]))
    block_of_row = np.cumsum(is_block_start) - 1
    block_group = group_id[block_starts]
    block_ids = (np.arange(len(block_starts))
                 - block_of_row[group_starts][block_group])

    # delta-gap doc ids: absolute at each BLOCK start (a block decodes
    # standalone), gaps elsewhere — same rule encode_block applied
    gaps = np.empty(n, dtype=np.int64)
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    gaps[block_starts] = doc_ids[block_starts]

    docs_buf, docs_nb = encode_varint_sizes(gaps)
    tfs_buf, tfs_nb = encode_varint_sizes(tfs)
    dls_buf, dls_nb = encode_varint_sizes(dls)

    def carve(buf: bytes, nbytes: np.ndarray) -> list[bytes]:
        ends = np.cumsum(nbytes)
        lo = ends[block_starts] - nbytes[block_starts]
        hi = ends[block_ends - 1]
        return [buf[a:b] for a, b in zip(lo.tolist(), hi.tolist())]

    bterms = terms[block_starts]
    nb = len(block_starts)
    i32 = pa.int32()
    return pa.RecordBatch.from_arrays(
        [
            pa.array(bterms, type=pa.int64()),
            pa.array(salts[block_starts].astype(np.int32), type=i32),
            pa.array(np.full(nb, seg, dtype=np.int32), type=i32),
            pa.array(block_ids.astype(np.int32), type=i32),
            pa.array((block_ends - block_starts).astype(np.int32), type=i32),
            pa.array(doc_ids[block_starts], type=pa.int64()),
            pa.array(doc_ids[block_ends - 1], type=pa.int64()),
            pa.array(carve(docs_buf, docs_nb), type=pa.binary()),
            pa.array(carve(tfs_buf, tfs_nb), type=pa.binary()),
            pa.array(carve(dls_buf, dls_nb), type=pa.binary()),
            pa.array(np.maximum.reduceat(tfs, block_starts).astype(np.int32),
                     type=i32),
            pa.array(np.minimum.reduceat(dls, block_starts).astype(np.int32),
                     type=i32),
            pa.array((bterms % n_buckets).astype(np.int32), type=i32),
        ],
        names=["term_id", "salt", "seg", "block_id", "n", "first_doc_id",
               "last_doc_id", "docs_enc", "tfs_enc", "dls_enc",
               "block_max_tf", "block_min_dl", "bucket"],
    )


def _build_blocks_np(pdf: pd.DataFrame, block_size: int, n_buckets: int,
                     seg: int = 0) -> pd.DataFrame:
    """pandas adapter over _build_blocks_arrays (kept for the bit-
    identity test; production rides the mapInArrow path below)."""
    return _build_blocks_arrays(
        pdf["term_id"].to_numpy(), pdf["salt"].to_numpy(),
        pdf["doc_id"].to_numpy(),
        pdf["tf"].to_numpy().astype(np.int64),
        pdf["dl"].to_numpy().astype(np.int64),
        block_size, n_buckets, seg,
    ).to_pandas()


def _make_partition_builder(block_size: int, n_buckets: int, seg: int = 0,
                            salt_df_threshold: int = analysis.SALT_DF_THRESHOLD,
                            salt_count: int = analysis.SALT_COUNT):
    """mapInArrow body over a partition hash-clustered by term and
    sorted by (term_id, doc_id). Input batches carry (term_id, doc_id,
    tfdl) with tf/dl PACKED into one int64 (tf<<32 | dl) — fewer
    columns through the shuffle and the Arrow pipe, which is the
    build's true bottleneck (the NumPy encode itself measures ~0.2 s of
    a ~38 s stage at sf0.3; the rest is data movement). mapInArrow (not
    mapInPandas) skips the Arrow->pandas->Arrow conversions entirely.

    r6: head-term SALTING happens HERE, not upstream. Every posting of
    a term lands in this one partition (clustered by term_id % B), so
    the builder sees each term's complete df as its contiguous group
    size — the former global df aggregation + join over the whole tf
    table existed only to compute `df > threshold`, and salt itself is
    doc_id's top bits (monotone in doc_id), so sorting by (term_id,
    doc_id) already equals the old (term_id, salt, doc_id) order. Net:
    one aggregation + one join + one shuffled column removed from the
    hot path (guide §2.3/§2.4), output blocks bit-identical.

    Memory bound (unchanged class): an incomplete TERM group is carried
    across Arrow batches, but once the carried rows exceed the salt
    threshold the term is provably salted, and every COMPLETE salt
    subgroup (doc_id-top-bits boundary) is flushed eagerly — so the
    carry never holds more than max(threshold, one salt subgroup), the
    same bound the old (term,salt)-keyed carry had."""
    shift = np.int64(analysis.DOC_ID_BITS - (salt_count.bit_length() - 1))
    thr = int(salt_df_threshold)
    mask32 = np.int64(0xFFFFFFFF)

    def emit(cols, first_salted: bool):
        """Build blocks for rows whose TERM groups are all complete.

        Input rows may be PRE-AGGREGATED postings (one row per
        (term, doc) with its tf) or RAW token occurrences (tf=1 per
        row): contiguous (term, doc) runs are summed, which makes the
        two identical — so the index build can skip the tf groupBy
        exchange entirely and merge can keep feeding decoded postings.

        ``first_salted``: the first group already overflowed upstream
        (its earlier salt subgroups were flushed), so it is salted
        regardless of its remaining size here."""
        terms, doc_ids, tfdl = cols
        m = len(terms)
        # collapse (term, doc) runs -> one posting per run, tf summed
        new_post = np.empty(m, dtype=bool)
        new_post[0] = True
        np.not_equal(terms[1:], terms[:-1], out=new_post[1:])
        new_post[1:] |= doc_ids[1:] != doc_ids[:-1]
        pstarts = np.flatnonzero(new_post)
        tfs = np.add.reduceat(tfdl >> np.int64(32), pstarts)
        pterms = terms[pstarts]
        pdocs = doc_ids[pstarts]
        pdls = tfdl[pstarts] & mask32
        # term groups over postings; group size == the term's df
        k = len(pterms)
        new_grp = np.empty(k, dtype=bool)
        new_grp[0] = True
        np.not_equal(pterms[1:], pterms[:-1], out=new_grp[1:])
        gstarts = np.flatnonzero(new_grp)
        gsizes = np.diff(np.append(gstarts, k))
        salted_grp = gsizes > thr
        if first_salted:
            salted_grp[0] = True
        salts = np.where(np.repeat(salted_grp, gsizes),
                         pdocs >> shift, 0).astype(np.int32)
        return _build_blocks_arrays(
            pterms, salts, pdocs, tfs, pdls,
            block_size, n_buckets, seg)

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
    """tf rows (term, doc_id, tf, dl) -> posting-block rows.

    Head-term salting is decided INSIDE the per-partition builder (r6):
    each term's postings all land in one partition, so the builder sees
    the term's complete df as its contiguous group size — no global df
    aggregation or join is needed, and because salt = doc_id's top bits
    is monotone in doc_id, sorting by (term_id, doc_id) already yields
    the old (term_id, salt, doc_id) order. Output blocks are
    bit-identical to the former two-pass plan (asserted by
    tests/test_build.py salting tests). ``k1``/``b`` are accepted and
    ignored so manifest-config dicts can be splatted through.
    """
    builder = _make_partition_builder(
        block_size, n_buckets, seg,
        salt_df_threshold=salt_df_threshold, salt_count=salt_count)
    # ONE shuffle: cluster by the OUTPUT partitioning (bucket =
    # term_id % B), sort within partitions by (term_id, doc_id), and
    # stream whole partitions through the NumPy builder — each task
    # then owns exactly one bucket directory at write time, so no second
    # shuffle is needed to lay the index out. The builder streams Arrow
    # batches, so a bucket-sized partition never materializes in Python.
    return (
        tf_df
        .withColumn("bucket_p", F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int"))
        # pack (tf, dl) into one int64 BEFORE the shuffle: tf < 2^31 and
        # dl < 2^32 by construction, so tf<<32 | dl round-trips exactly —
        # 20% less shuffle volume and one fewer Arrow column to Python
        .withColumn("tfdl", F.expr(
            "shiftleft(CAST(tf AS BIGINT), 32) + CAST(dl AS BIGINT)"))
        .repartition(n_buckets, "bucket_p")
        .sortWithinPartitions("term_id", "doc_id")
        .select("term_id", "doc_id", "tfdl")
        .mapInArrow(builder, schema=POSTINGS_SCHEMA)
    )


def _collapse_build_bucket(terms, docs, tfdl, *, block_size: int,
                           n_buckets: int, salt_df_threshold: int,
                           salt_count: int, seg: int):
    """Whole-bucket block build over UNSORTED arrays: numpy lexsort,
    (term, doc) run collapse (tf summed), in-place salting, block
    encode. Returns (record_batch, term_ids, dfs) — the last two are
    the bucket's term_stats rows (df(term) == term group size, since
    each live doc contributes exactly one posting per term).

    Rationale (r6, guide §1.2 'the distributed algorithm first'):
    Spark's row-based sort + the JVM row->Arrow conversion were ~70 %
    of the postings stage at 1 core (measured sf0.1: 48 s sort +
    ~25 s pipe for 34 M rows, vs 7.5 s for the same sort as one numpy
    lexsort on columnar input). Reading the bucket COLUMNAR from a
    parquet spill and sorting in numpy does the same work at memory
    bandwidth."""
    order = np.lexsort((docs, terms))
    terms = terms[order]
    docs = docs[order]
    tfdl = tfdl[order]
    m = len(terms)
    mask32 = np.int64(0xFFFFFFFF)
    shift = np.int64(analysis.DOC_ID_BITS - (salt_count.bit_length() - 1))
    new_post = np.empty(m, dtype=bool)
    new_post[0] = True
    np.not_equal(terms[1:], terms[:-1], out=new_post[1:])
    new_post[1:] |= docs[1:] != docs[:-1]
    pstarts = np.flatnonzero(new_post)
    tfs = np.add.reduceat(tfdl >> np.int64(32), pstarts)
    pterms = terms[pstarts]
    pdocs = docs[pstarts]
    pdls = tfdl[pstarts] & mask32
    k = len(pterms)
    new_grp = np.empty(k, dtype=bool)
    new_grp[0] = True
    np.not_equal(pterms[1:], pterms[:-1], out=new_grp[1:])
    gstarts = np.flatnonzero(new_grp)
    gsizes = np.diff(np.append(gstarts, k))
    salted_grp = gsizes > int(salt_df_threshold)
    salts = np.where(np.repeat(salted_grp, gsizes),
                     pdocs >> shift, 0).astype(np.int32)
    rb = _build_blocks_arrays(pterms, salts, pdocs, tfs, pdls,
                              block_size, n_buckets, seg)
    return rb, pterms[gstarts], gsizes


# one bucket's raw (term_id, doc_id, tfdl) arrays must fit a task for
# the columnar path; adaptive_n_buckets sizes buckets ~6x smaller than
# this, so the fallback only triggers when a caller pins a small
# n_buckets on a huge corpus
BUCKET_MEM_BUDGET = 2 << 30


def build_postings_bucketed(spark: SparkSession, tf_df: DataFrame,
                            postings_dir: str, term_stats_dir: str | None, *,
                            block_size: int = analysis.BLOCK_SIZE,
                            n_buckets: int = analysis.N_BUCKETS,
                            salt_df_threshold: int = analysis.SALT_DF_THRESHOLD,
                            salt_count: int = analysis.SALT_COUNT,
                            seg: int = 0,
                            spill_dir: str | None = None) -> list[dict]:
    """Columnar postings build (r6): ONE exchange writes the raw
    (term_id, doc_id, tfdl) rows as a parquet SPILL partitioned by
    bucket; one task per bucket then reads its partition back columnar
    (pyarrow, no JVM row->Arrow transposition), numpy-lexsorts it,
    builds the blocks, and writes the bucket's postings file AND its
    term_stats file directly — so the former separate
    write_term_stats_and_lineage pass over the finished postings is
    folded in for free. Returns the per-bucket lineage rows.

    Scale shape: the spill write/read is sequential columnar I/O (the
    bytes Spark's sort-based shuffle would move anyway); what it
    removes is the O(n) row-at-a-time sort insertion and the row->Arrow
    transpose of every posting (guide §4.1/§2.1). Buckets are sized by
    adaptive_n_buckets so one bucket's arrays fit task memory; callers
    with over-budget buckets use the streaming build_postings instead
    (build_index picks automatically)."""
    import shutil as _shutil

    if spill_dir is None:
        spill_dir = postings_dir.rstrip("/") + "._tfspill"
    packed = (
        tf_df
        .withColumn("bucket_p", F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int"))
        .withColumn("tfdl", F.expr(
            "shiftleft(CAST(tf AS BIGINT), 32) + CAST(dl AS BIGINT)"))
        .select("term_id", "doc_id", "tfdl", "bucket_p")
    )
    # Exchange decision by FILE-COUNT math (guide §6): without a
    # repartition every map task writes into every bucket dir, giving
    # n_map x B spill files — fine up to a few thousand (pyarrow reads
    # a bucket dir as one dataset), a small-files cliff beyond. The
    # spill is temp data read exactly once and deleted: dictionary
    # encoding off (it cost ~2x on read-back of high-cardinality ids);
    # snappy keeps the spill ~4.5x smaller than raw for ~5 s more write
    # at 1 core — the uncompressed variant measured faster solo but its
    # writeback competed with every concurrent task at higher core
    # counts (the r6 mid-round bench regressed build_scale4 on it).
    n_map = packed.rdd.getNumPartitions()
    writer = (packed if n_map * n_buckets <= 16384
              else packed.repartition(n_buckets, "bucket_p"))
    _shutil.rmtree(spill_dir, ignore_errors=True)
    try:
        (writer.write.mode("overwrite").partitionBy("bucket_p")
         .option("compression", "snappy")
         .option("parquet.enable.dictionary", "false").parquet(spill_dir))

        bs, nb, thr, sc, sg = (int(block_size), int(n_buckets),
                               int(salt_df_threshold), int(salt_count),
                               int(seg))
        p_dir, ts_dir, sp_dir = postings_dir, term_stats_dir, spill_dir

        def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import os

            import pyarrow as pa
            import pyarrow.dataset as pads
            import pyarrow.parquet as pq

            for pdf in pdfs:
                for b in pdf["bucket"].tolist():
                    part = os.path.join(sp_dir, f"bucket_p={b}")
                    if not os.path.isdir(part):
                        continue
                    tbl = pads.dataset(part, format="parquet").to_table()
                    if tbl.num_rows == 0:
                        continue
                    rb, t_ids, t_dfs = _collapse_build_bucket(
                        tbl["term_id"].to_numpy(zero_copy_only=False),
                        tbl["doc_id"].to_numpy(zero_copy_only=False),
                        tbl["tfdl"].to_numpy(zero_copy_only=False),
                        block_size=bs, n_buckets=nb,
                        salt_df_threshold=thr, salt_count=sc, seg=sg)
                    del tbl
                    out = os.path.join(p_dir, f"bucket={b}")
                    os.makedirs(out, exist_ok=True)
                    pq.write_table(
                        pa.Table.from_batches([rb]).drop_columns(["bucket"]),
                        os.path.join(out, "part-00000.parquet"))
                    if ts_dir is not None:
                        tsd = os.path.join(ts_dir, f"bucket={b}")
                        os.makedirs(tsd, exist_ok=True)
                        pq.write_table(
                            pa.table({"term_id": t_ids,
                                      "df": t_dfs.astype("int64")}),
                            os.path.join(tsd, "part-00000.parquet"))
                    yield pd.DataFrame([{
                        "bucket": b, "n_terms": int(len(t_ids)),
                        "n_blocks": int(rb.num_rows),
                        "n_postings": int(t_dfs.sum()),
                    }])

        buckets_df = spark.createDataFrame(
            [(b,) for b in range(n_buckets)], "bucket int"
        ).repartition(n_buckets)
        os.makedirs(postings_dir, exist_ok=True)
        rows = buckets_df.mapInPandas(
            run, schema="bucket int, n_terms long, n_blocks long, "
                        "n_postings long").collect()
    finally:
        _shutil.rmtree(spill_dir, ignore_errors=True)
    return [{"bucket": int(r["bucket"]), "n_terms": int(r["n_terms"]),
             "n_blocks": int(r["n_blocks"]),
             "n_postings": int(r["n_postings"])} for r in rows]


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
    ``staging=True`` skips term_stats + lineage (a merge delta's stats
    are recomputed from the MERGED blocks anyway; saves two jobs on the
    micro-batch append path). ``seg``: segment id stamped on every block
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
    Each phase's Spark jobs carry its name as their job description
    (see the module notes); the caller's description is restored."""
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
    est_raw = int(st["total_tokens"] or 0) * 24
    est_bucket_raw = est_raw // max(1, n_buckets)
    # small inputs (micro-batch append deltas, tiny corpora) keep the
    # streaming path: the spill's two extra jobs + per-bucket tasks are
    # pure overhead when the whole input is a few MB (the r6 mid-round
    # bench regressed append_delta_4x on a 4k-doc delta staging build)
    if (64 << 20) <= est_raw and est_bucket_raw <= BUCKET_MEM_BUDGET:
        # columnar per-bucket build (r6): spill exchange + numpy sort;
        # also writes term_stats in the same pass (see
        # build_postings_bucketed), so this path has no build:stats
        # job. Empty corpora and over-budget buckets take the streaming
        # path below.
        shutil.rmtree(postings_dir, ignore_errors=True)
        ts_dir = None if staging else store.term_stats_dir_for(0)
        if ts_dir is not None:
            shutil.rmtree(ts_dir, ignore_errors=True)
        with job_description(spark, "build:postings"):
            lineage = build_postings_bucketed(
                spark, tf, postings_dir, ts_dir,
                block_size=block_size, n_buckets=n_buckets,
                salt_df_threshold=salt_df_threshold, salt_count=salt_count,
                seg=seg)
        toks.unpersist()
        if not staging:
            store.append_lineage(spark, [
                {"bucket": r["bucket"], "phase": "build", "epoch": 0,
                 "n_terms": r["n_terms"], "n_blocks": r["n_blocks"],
                 "n_postings": r["n_postings"], "status": "committed"}
                for r in lineage
            ])
    else:
        blocks = build_postings(
            tf, block_size=block_size, n_buckets=n_buckets,
            salt_df_threshold=salt_df_threshold, salt_count=salt_count,
            seg=seg,
        )
        # blocks arrive pre-clustered by bucket and pre-sorted by
        # term_id (build_postings shuffles ONCE on the output
        # partitioning), so the partitionBy write emits exactly one
        # file per bucket with sorted term_id row groups
        with job_description(spark, "build:postings"):
            blocks.write.mode("overwrite").partitionBy("bucket").parquet(
                postings_dir)
        toks.unpersist()
        if not staging:
            with job_description(spark, "build:stats"):
                write_term_stats_and_lineage(spark, store, phase="build",
                                             epoch=0)
    # every bucket gets a dir, empty ones too: merges and compactions
    # read a missing bucket dir as lost data and refuse to go on
    for d in [postings_dir] + ([] if staging else [store.term_stats_dir_for(0)]):
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
                                 buckets: list[int] | None = None) -> None:
    """Derive term_stats (term_id -> df) + per-bucket lineage records
    from posting-block METADATA alone: df(term) = sum of block n over
    the term's blocks (each live doc appears exactly once per term), so
    no decode pass is needed. ``buckets``: restrict to these buckets
    (merge touches a subset; untouched buckets hardlink their stats),
    each of which gets a dir, empty or not (queries read a missing
    term_stats bucket dir as lost data)."""
    pdir = store.postings_dir_for(epoch)
    meta = spark.read.schema(POSTINGS_SCHEMA).parquet(pdir).select(
        "bucket", "term_id", "n")
    if buckets is not None:
        if not buckets:
            return
        meta = meta.where(F.col("bucket").isin(list(buckets)))
    meta = meta.persist()
    try:
        # dynamic partition overwrite -> idempotent on merge resume
        # (re-running replaces exactly the touched bucket partitions)
        (meta.groupBy("bucket", "term_id").agg(F.sum("n").alias("df"))
         .repartition("bucket").sortWithinPartitions("term_id")
         .select("term_id", "df", "bucket")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(store.term_stats_dir_for(epoch)))
        lineage_rows = (
            meta.groupBy("bucket")
            .agg(F.countDistinct("term_id").alias("n_terms"),
                 F.count(F.lit(1)).alias("n_blocks"),
                 F.sum("n").alias("n_postings"))
            .collect())
        store.append_lineage(spark, [
            {"bucket": int(r["bucket"]), "phase": phase, "epoch": epoch,
             "n_terms": int(r["n_terms"]), "n_blocks": int(r["n_blocks"]),
             "n_postings": int(r["n_postings"]), "status": "committed"}
            for r in lineage_rows
        ])
    finally:
        meta.unpersist()
    for b in buckets or ():
        os.makedirs(os.path.join(store.term_stats_dir_for(epoch),
                                 f"bucket={b}"), exist_ok=True)
