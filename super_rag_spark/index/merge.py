"""O(delta) segment appends, full and tiered compaction — one resumable
epoch commit for all three.

The reference has NO retry/resume story — a failed ingest restarts from
zero (SURVEY.md §4.1 "Retry/resume" row); BASELINE.json north_rule makes
this a first-class requirement: "resumable from checkpoint with
per-partition lineage + metrics".

Every write builds epoch N+1 next to the live epoch N through the same
protocol:
1. ``_begin_epoch``: heal a crash between an earlier switch and its GC,
   then wipe whatever a crashed run of a DIFFERENT protocol left at
   N+1 (``_wipe_foreign_epoch``);
2. ``_run_waves``: per term-hash bucket, either hardlink the old files
   (no Spark job) or rewrite the bucket with ``_rewrite_buckets`` —
   in waves of ~n/16 buckets, one Spark job per wave. Each wave appends
   one lineage record per bucket; a re-run after a crash skips
   committed buckets. Bucket jobs are deterministic, so resume
   produces the identical index (FIXTURES.md invariant 5);
3. ``_commit_epoch``: after the epoch-scoped doc/corpus/term stats and
   sidecars are written, the atomic manifest replace is the ONE switch
   point; old epoch dirs (consumed tombstones included) are GC'd only
   after it, so a crash anywhere earlier leaves epoch N fully live.

What each protocol rewrites:
- ``merge_append`` (Lucene-style segment append): the delta is built
  into a STAGING index stamped seg=<N+1> (reused on resume) and its
  files are hardlinked into the new bucket dirs next to the old ones —
  a pure append decodes nothing. Removed docs (pending tombstones plus
  upserts: docs in BOTH the old index and the delta) are found by a
  block [first,last] range probe; only the hit term groups are decoded,
  filtered and re-encoded. Because v3 blocks are stats-free (build.py),
  every other row is carried verbatim. Bulk removals (above
  ``REMOVED_DRIVER_MAX``) skip the probe and rewrite every bucket.
- ``compact_index``: decode everything, drop tombstones, re-encode as
  seg=0 — bit-identical to a from-scratch build of the live corpus.
- ``compact_tail``: re-encode every segment but the largest as one.

A rewritten bucket is written by the task that rebuilt its blocks,
through build's one postings writer. term_stats follow one rule: a
bucket whose postings did not change hardlinks its old term_stats file;
every other bucket's df is recomputed from its new blocks, never folded
from the old table — in compact_index's rewrite task itself, and for an
append, whose staged buckets hold two files, by
build.write_term_stats_and_lineage (one task per bucket). A tail fold
changes no postings set, so all of its term_stats hardlink.

Exactly-once streaming: ``stream_batch_id`` is recorded in the manifest
at the switch; a replayed micro-batch (same or older id) is a no-op, so
the Spark streaming checkpoint and the index can never double-apply a
batch (streaming.py).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Iterable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query.scoring import DECODED_SCHEMA, decode_postings_map_in_arrow
from .build import (_append_lineage, build_index, build_postings,
                    job_description, write_blocks,
                    write_term_stats_and_lineage)
from .sidecars import _hardlink_tree, _link_files
from .storage import POSTINGS_SCHEMA, IndexStorage

# removed doc_ids up to this count are collected and broadcast (~16 MB
# of int64); above it the removed set stays distributed and every
# bucket is rewritten — a bulk delete is a compaction in all but name
REMOVED_DRIVER_MAX = 2_000_000

_EPOCH_PHASES = ("merge", "compact", "compact_tail")


class SimulatedMergeFailure(RuntimeError):
    """Raised by fail_after_bucket=... in resume tests."""


class _Epoch(NamedTuple):
    manifest: dict
    old: int
    new: int
    cfg: dict  # build_postings settings of the index


def _staging_dir(store: IndexStorage, epoch: int) -> str:
    return os.path.join(store.root, f"staging_e{epoch}")


def _begin_epoch(store: IndexStorage, phase: str,
                 new_docs_df: DataFrame | None = None) -> _Epoch:
    manifest = store.read_manifest()
    store.gc_stale_epochs()  # heal a crash between manifest switch and GC
    old = int(manifest["epoch"])
    _wipe_foreign_epoch(store, old + 1, phase, new_docs_df)
    cfg = {k: manifest[k] for k in
           ("k1", "b", "block_size", "n_buckets", "salt_df_threshold", "salt_count")}
    return _Epoch(manifest, old, old + 1, cfg)


def _wipe_foreign_epoch(store: IndexStorage, epoch: int, phase: str,
                        new_docs_df: DataFrame | None) -> None:
    """A crashed run of a DIFFERENT protocol may have left partial
    epoch dirs + lineage at this target epoch; resuming over them would
    interleave two protocols' outputs (hardlink-keeps vs
    rewrites). Wipe the target epoch and ALL its lineage so this run
    starts clean. Same-protocol resume (only ``phase`` commits present)
    is untouched — that's the supported crash-resume path."""
    commits = {ph: store.committed_buckets(ph, epoch) for ph in _EPOCH_PHASES}
    foreign = any(c for ph, c in commits.items() if ph != phase)
    # zero commits ANYWHERE + an existing postings dir = a crash landed
    # between a wave's write and its lineage append; the protocol that
    # wrote it is unknowable, so treat it as foreign too
    orphan = (os.path.isdir(store.postings_dir_for(epoch))
              and not any(commits.values()))
    # a staging index stamped with another seg (left by a crashed merge
    # of an older version that built rebuild-mode staging at seg=0)
    staging = IndexStorage(_staging_dir(store, epoch))
    stale_staging = (phase == "merge"
                     and os.path.exists(staging.manifest_path)
                     and int(staging.read_manifest().get("seg", 0)) != epoch)
    if stale_staging:
        if new_docs_df is None:
            raise ValueError(
                f"staging at {staging.root} is not a seg={epoch} build; "
                "re-supply new_docs_df to rebuild it")
        shutil.rmtree(staging.root, ignore_errors=True)
    if not (foreign or orphan or stale_staging):
        return
    for d in (store.postings_dir_for(epoch), store.term_stats_dir_for(epoch),
              store.doc_stats_dir_for(epoch), store.corpus_stats_dir_for(epoch),
              store.tombstones_dir_for(epoch), store.positions_dir_for(epoch),
              store.vocab_dir_for(epoch)):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.isdir(store.lineage_dir):
        prefixes = tuple(f"{ph}-epoch{epoch}-" for ph in
                         _EPOCH_PHASES + ("merge_stats", "compact_stats"))
        for name in os.listdir(store.lineage_dir):
            if name.startswith(prefixes):
                os.remove(os.path.join(store.lineage_dir, name))


def _commit_lineage(spark: SparkSession, store: IndexStorage, phase: str,
                    epoch: int, buckets: Iterable[int]) -> None:
    store.append_lineage(spark, [{
        "bucket": b, "phase": phase, "epoch": epoch,
        "n_terms": -1, "n_blocks": -1, "n_postings": -1,
        "status": "committed"} for b in buckets])


def _run_waves(spark: SparkSession, store: IndexStorage, phase: str,
               ep: _Epoch, buckets: list[int],
               wave_fn: Callable[[list[int]], None],
               fail_after_bucket: int | None) -> None:
    """THE commit loop: ``wave_fn`` over the uncommitted ``buckets``,
    lineage committed per bucket after its wave lands, so a driver crash
    loses at most one wave. A wave is ONE Spark job whatever its size
    (per-bucket jobs drowned small deltas in scheduling cost), small
    enough that a crash at huge bucket counts loses bounded work.
    ``fail_after_bucket`` forces single buckets in order and raises
    after committing the first bucket >= it (deterministic resume
    tests)."""
    committed = store.committed_buckets(phase, ep.new)
    todo = [b for b in buckets if b not in committed]
    n_buckets = ep.cfg["n_buckets"]
    size = 1 if fail_after_bucket is not None else max(64, n_buckets // 16)
    for i in range(0, len(todo), size):
        wave = todo[i:i + size]
        wave_fn(wave)
        _commit_lineage(spark, store, phase, ep.new, wave)
        if fail_after_bucket is not None and wave[-1] >= fail_after_bucket:
            raise SimulatedMergeFailure(
                f"injected failure after bucket {wave[-1]}")


def _rewrite_buckets(spark: SparkSession, store: IndexStorage, ep: _Epoch,
                     wave: list[int], *, removed: DataFrame | None = None,
                     hits: DataFrame | None = None,
                     keep_seg: int | None = None, seg: int = 0,
                     stats_phase: str | None = None) -> None:
    """THE wave body: read the wave's old buckets once, carry rows
    verbatim or decode them, drop ``removed`` doc_ids from the decoded
    postings, re-encode as segment ``seg`` and replace exactly these
    bucket dirs. Rows carried verbatim: blocks of terms NOT in ``hits``
    (bucket, term_id) when given; blocks of segment ``keep_seg`` when
    given; none otherwise (decode everything). With ``stats_phase``,
    each bucket's term_stats are written from the same blocks, with
    lineage records of that phase."""
    old_root = store.postings_dir_for(ep.old)
    new_dir = store.postings_dir_for(ep.new)
    ts_dir = store.term_stats_dir_for(ep.new) if stats_phase else None
    # ONE scan over exactly these bucket dirs; basePath recovers the
    # bucket partition column without a union-per-dir plan. A missing
    # old bucket dir raises: carried forward as empty, its postings
    # would be lost for good
    blocks = (spark.read.option("basePath", old_root)
              .schema(POSTINGS_SCHEMA)
              .parquet(*[store.bucket_dir("postings", ep.old, b)
                         for b in wave]))
    keep = None
    if hits is not None:
        # Spark-side: the hit terms of this wave, never collected (can
        # be O(vocabulary) rows) and never force-broadcast (AQE
        # broadcasts the usual tiny set at runtime)
        terms = (hits.where(F.col("bucket").isin(wave))
                 .select("term_id").distinct())
        keep = blocks.join(terms, "term_id", "left_anti")
        blocks = blocks.join(terms, "term_id", "left_semi")
    elif keep_seg is not None:
        keep = blocks.where(F.col("seg") == keep_seg)
        blocks = blocks.where(F.col("seg") != keep_seg)
    decoded = (blocks.drop("bucket")
               .mapInArrow(decode_postings_map_in_arrow,
                           schema=DECODED_SCHEMA))
    if removed is not None:
        decoded = decoded.join(removed, "doc_id", "left_anti")
    out = build_postings(decoded, seg=seg, **ep.cfg)
    if keep is not None:
        out = keep.unionByName(out)
    # each task writes whole buckets in the order the writer takes:
    # bucket, then term_id (the term directory needs sorted term_ids);
    # seg orders a carried and a rebuilt run of one (term, salt) block
    lineage = write_blocks(
        out.repartition("bucket")
        .sortWithinPartitions("bucket", "term_id", "salt", "block_id", "seg"),
        new_dir, ts_dir)
    # a bucket rewritten fully empty gets no file from the writer: it
    # ends as an empty dir, clear of what an earlier attempt left
    for b in set(wave) - {r["bucket"] for r in lineage}:
        for d in filter(None, (new_dir, ts_dir)):
            shutil.rmtree(os.path.join(d, f"bucket={b}"), ignore_errors=True)
            os.makedirs(os.path.join(d, f"bucket={b}"))
    if stats_phase:
        _append_lineage(spark, store, lineage, phase=stats_phase,
                        epoch=ep.new)


def _write_doc_stats(spark: SparkSession, store: IndexStorage, epoch: int,
                     ds: DataFrame) -> tuple[int, float]:
    """Write the epoch's doc_stats + corpus_stats; returns (n_docs, avgdl)."""
    st = ds.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"),
                F.sum("dl").alias("tot")).collect()[0]
    n_docs, avgdl = int(st["n"]), float(st["avgdl"] or 0.0)
    store.catalog.overwrite(ds, store.doc_stats_dir_for(epoch))
    store.write_corpus_stats(spark, epoch, n_docs, avgdl, int(st["tot"] or 0))
    return n_docs, avgdl


def _commit_epoch(store: IndexStorage, manifest: dict, **updates) -> None:
    manifest.update(updates)
    store.write_manifest(manifest)  # <- the switch
    # GC after the switch (a crash here is healed by the next
    # _begin_epoch's gc_stale_epochs call)
    store.gc_stale_epochs()


def merge_append(spark: SparkSession, index_dir: str,
                 new_docs_df: DataFrame | None = None, *,
                 text_is_extracted: bool = True,
                 extract_mode: str = "html",
                 fail_after_bucket: int | None = None,
                 stream_batch_id: int | None = None,
                 mode: str = "segment") -> IndexStorage:
    """Append/upsert ``new_docs_df`` (url, text|html) into an existing
    index as a new Lucene-style segment, consuming pending tombstones.

    The staging blocks are stamped seg=<new epoch> and hardlinked into
    the bucket dirs NEXT TO the old blocks — no old group is decoded
    for a pure append. Only groups that lose postings (deletes/upserts,
    found by the doc-range probe) are rebuilt, collapsing that term's
    old segments into one seg=0 run. Scores are IDENTICAL to a
    from-scratch build (stats are exact; a doc lives in exactly one
    segment per term); the physical layout differs until
    compact_index() folds segments back to seg=0.

    Call again with ``new_docs_df=None`` (or the same frame) after a
    crash to resume: the staging build is reused if present and
    committed buckets are skipped via lineage.

    ``stream_batch_id``: exactly-once marker for streaming ingest — ids
    at or below the manifest's recorded value are already folded and
    return immediately. ``mode`` only accepts ``"segment"``, the one
    merge layout, and is kept for call sites that still pass it.
    """
    if mode != "segment":
        raise ValueError(f"unknown merge mode: {mode!r}")
    store = IndexStorage(index_dir)
    last_batch = store.read_manifest().get("stream_batch_id")
    if (stream_batch_id is not None and last_batch is not None
            and stream_batch_id <= int(last_batch)):
        return store  # replayed micro-batch: already applied
    ep = _begin_epoch(store, "merge", new_docs_df)
    n_buckets = ep.cfg["n_buckets"]

    # 1. staging build (idempotent: skipped when its manifest exists)
    sstore = IndexStorage(_staging_dir(store, ep.new))
    if not os.path.exists(sstore.manifest_path):
        if new_docs_df is None:
            raise ValueError("no staging index found and no new_docs_df given")
        # title_weight / meta_cols are INDEX properties, not call-site
        # options: a weighted or meta-carrying index must append deltas
        # built the same way, or scores / doc_stats schemas diverge
        build_index(spark, new_docs_df, sstore.root,
                    text_is_extracted=text_is_extracted,
                    extract_mode=extract_mode, staging=True, seg=ep.new,
                    title_weight=int(ep.manifest.get("title_weight", 1)),
                    meta_cols=tuple(ep.manifest.get("meta_cols", [])),
                    **ep.cfg)
    # each phase names its Spark jobs (the staging build's: build:*)
    from .sidecars import build_staging_sidecars, carry_sidecars_merge

    with job_description(spark, "append:sidecars"):
        # the delta's sidecars (positions/vocab) build into staging right
        # away — iff the live epoch carries them — so a crash-resume with
        # new_docs_df=None finds them ready (index/sidecars.py; idempotent)
        build_staging_sidecars(spark, store, sstore, new_docs_df,
                               text_is_extracted=text_is_extracted,
                               extract_mode=extract_mode)

    with job_description(spark, "append:probe"):
        # 2. removed = explicit tombstones + upserts (old ∩ staging doc_ids).
        #    Applied to OLD-epoch rows only: the staging (newest) version of
        #    an upserted doc always survives, and a delete+re-add in one
        #    cycle resurrects the doc with its new content.
        old_ds = store.doc_stats(spark, ep.old)
        stg_ds = sstore.doc_stats(spark, 0)
        tomb = store.tombstones(spark, ep.old)
        upserts = old_ds.select("doc_id").join(
            stg_ds.select("doc_id"), "doc_id", "left_semi")
        removed = upserts if tomb is None else upserts.unionByName(
            tomb.select("doc_id")).distinct()
        # tombstones + upserts are normally delta-sized -> a driver-local
        # frame broadcasts cleanly; a BULK delete must never be collected,
        # so above the threshold the removed set stays a distributed frame
        n_removed = removed.count()
        bulk_removal = n_removed > REMOVED_DRIVER_MAX
        removed_small = None
        if bulk_removal:
            removed_small = removed  # distributed; Catalyst picks the join
        elif n_removed:
            removed_small = F.broadcast(
                spark.createDataFrame(removed.toPandas()))

        # 3. upfront, DETERMINISTIC change detection (identical on resume):
        #    an old block's [first,last] window may contain a removed doc
        #    (metadata range probe, broadcast join, no decode; false
        #    positives only cost a no-op re-encode). The hit set stays a
        #    DataFrame end-to-end (ADVICE r2: a sub-threshold delete can hit
        #    millions of (bucket, term_id) groups); the driver only sees the
        #    distinct bucket list. A bulk delete skips the probe (its
        #    non-equi join only works broadcast) and rewrites every bucket.
        removal_hits_df: DataFrame | None = None
        hit_buckets: set[int] = set()
        if bulk_removal:
            hit_buckets = set(range(n_buckets))
        elif removed_small is not None:
            meta = (store.postings(spark, ep.old).select(
                "bucket", "term_id", "first_doc_id", "last_doc_id"))
            removal_hits_df = (
                meta.join(removed_small,
                          (meta["first_doc_id"] <= F.col("doc_id"))
                          & (meta["last_doc_id"] >= F.col("doc_id")))
                .select("bucket", "term_id").distinct()
                .persist())  # probe scan runs once, every wave reuses it
            hit_buckets = {
                int(r["bucket"]) for r in
                removal_hits_df.select("bucket").distinct().collect()}
        stg_root = sstore.postings_dir_for(0)
        staging_buckets = {
            int(name.split("=")[1]) for name in os.listdir(stg_root)
            if name.startswith("bucket=") and any(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(stg_root, name)))}

    with job_description(spark, "append:rewrite"):
        # 4. untouched buckets hardlink their old files outside any Spark
        #    job (O(1) per file — THE O(delta) fast path); hit buckets
        #    rewrite their hit groups in waves. Both then link the staging
        #    blocks in as the new segment (after the rewrite: its writer
        #    removes links a crashed earlier attempt left).
        new_dir = store.postings_dir_for(ep.new)

        def link_staging(wave: list[int]) -> None:
            for b in wave:
                _link_files(os.path.join(stg_root, f"bucket={b}"),
                            os.path.join(new_dir, f"bucket={b}"),
                            prefix=f"seg{ep.new}-")

        def link_wave(wave: list[int]) -> None:
            for b in wave:
                _hardlink_tree(store.bucket_dir("postings", ep.old, b),
                               os.path.join(new_dir, f"bucket={b}"))
            link_staging(wave)

        def rewrite_wave(wave: list[int]) -> None:
            _rewrite_buckets(spark, store, ep, wave, removed=removed_small,
                             hits=removal_hits_df)
            link_staging(wave)

        _run_waves(spark, store, "merge", ep,
                   [b for b in range(n_buckets) if b not in hit_buckets],
                   link_wave, fail_after_bucket)
        _run_waves(spark, store, "merge", ep, sorted(hit_buckets),
                   rewrite_wave, fail_after_bucket)

    with job_description(spark, "append:stats"):
        # 5. epoch-scoped stats tables (everything below is idempotent, so a
        #    crash + resume rewrites it safely)
        ds_merged = old_ds
        if removed_small is not None:
            ds_merged = ds_merged.join(removed_small, "doc_id", "left_anti")
        n_docs, avgdl = _write_doc_stats(spark, store, ep.new,
                                         ds_merged.unionByName(stg_ds))

        # term_stats: a bucket that neither lost nor gained postings
        # hardlinks its old file; every other bucket's df is recomputed
        # from its new blocks, one task per bucket
        rewritten = staging_buckets | hit_buckets
        ts_new = store.term_stats_dir_for(ep.new)
        for b in range(n_buckets):
            if b not in rewritten:
                _hardlink_tree(store.bucket_dir("term_stats", ep.old, b),
                               os.path.join(ts_new, f"bucket={b}"))
        write_term_stats_and_lineage(spark, store, phase="merge_stats",
                                     epoch=ep.new, buckets=sorted(rewritten))

    with job_description(spark, "append:sidecars"):
        # sidecars ride the same epoch switch (O(delta) carry — r5):
        # positions segment-link + hit-group rebuild, vocab df fold
        carry_sidecars_merge(spark, store, sstore, old_epoch=ep.old,
                             epoch=ep.new, removed_small=removed_small,
                             bulk_removal=bulk_removal,
                             removal_hits_df=removal_hits_df)

    # n_segments: read-side cursor count per term grows with live
    # segments; it drives the auto-compaction policy (maybe_compact)
    updates = dict(epoch=ep.new, n_docs=n_docs, avgdl=avgdl,
                   n_segments=int(ep.manifest.get("n_segments", 1)) + 1)
    if stream_batch_id is not None:
        updates["stream_batch_id"] = int(stream_batch_id)
    _commit_epoch(store, ep.manifest, **updates)
    if removal_hits_df is not None:
        removal_hits_df.unpersist()
    return store


def compact_index(spark: SparkSession, index_dir: str, *,
                  fail_after_bucket: int | None = None) -> IndexStorage:
    """Fold every segment back into seg=0 and consume pending tombstones:
    decode ALL postings, rebuild blocks from scratch into the next epoch.

    After any sequence of segment appends, compact(index) is
    BIT-IDENTICAL to a from-scratch build over the live corpus (v3
    blocks depend only on their group's postings; tests assert it).
    Total cost is O(index) by design — this is the Lucene compaction
    cadence: micro-batches pay O(delta) via merge_append, and a periodic
    compaction restores the tight block layout + WAND skip efficiency.
    It runs on the same resumable wave commit as merge_append (ADVICE
    r2): at 100 TB a crash mid-compaction resumes from the last
    committed wave instead of restarting a multi-hour job from zero.
    Bucket rebuilds are deterministic (a term's postings live wholly
    inside one bucket, so per-wave df == global df for the salting
    decision), so resume produces the identical index.
    """
    store = IndexStorage(index_dir)
    ep = _begin_epoch(store, "compact")
    buckets = list(range(ep.cfg["n_buckets"]))
    with job_description(spark, "compact:rewrite"):
        # tombstones stay a DataFrame (a bulk delete can dwarf the
        # driver); AQE broadcasts the (usual) tiny case at runtime
        tomb = store.tombstones(spark, ep.old)
        if tomb is not None:
            tomb = tomb.select("doc_id").distinct()
        # the rewrite writes each bucket's term_stats with its blocks
        _run_waves(spark, store, "compact", ep, buckets,
                   lambda wave: _rewrite_buckets(
                       spark, store, ep, wave, removed=tomb,
                       stats_phase="compact_stats"),
                   fail_after_bucket)

    with job_description(spark, "compact:stats"):
        ds = store.doc_stats(spark, ep.old)
        if tomb is not None:
            ds = ds.join(tomb, "doc_id", "left_anti")
        n_docs, avgdl = _write_doc_stats(spark, store, ep.new, ds)

    # positions fold to canonical blocking (consuming tombstones);
    # vocab hardlinks or folds losses (index/sidecars.py, r5)
    from .sidecars import carry_sidecars_compact

    with job_description(spark, "compact:sidecars"):
        carry_sidecars_compact(spark, store, old_epoch=ep.old, epoch=ep.new,
                               tomb=tomb)
    _commit_epoch(store, ep.manifest, epoch=ep.new, n_docs=n_docs,
                  avgdl=avgdl, n_segments=1)
    return store


def compact_tail(spark: SparkSession, index_dir: str, *,
                 fail_after_bucket: int | None = None) -> IndexStorage:
    """TIERED compaction (Lucene-style): fold every segment EXCEPT the
    largest into ONE new segment. Cost is O(tail postings) — the big
    base segment is carried through as rows, never decoded or
    re-encoded — so the steady-state compaction cadence of a streaming
    ingest pays for the deltas it absorbed, not for the whole index.
    Repeated folds re-fold the previous fold (the folded segment grows
    until it rivals the base, amortized O(n log n) total — the classic
    tiered-merge tradeoff); a rare full compact_index() restores the
    single-segment layout when wanted.

    Invariants: the live doc set, df(term), and all scores are
    unchanged (postings only change SEGMENT); doc_stats / corpus_stats
    / term_stats hardlink through, and pending tombstones stay pending
    (a tail fold must not half-consume them — the base segment keeps
    its copies). Resumable exactly like compact_index (lineage phase
    "compact_tail"). No-op (no epoch bump) when <= 1 segment is live.
    """
    store = IndexStorage(index_dir)
    ep = _begin_epoch(store, "compact_tail")
    with job_description(spark, "compact:plan"):
        seg_sizes = (store.postings(spark, ep.old)
                     .groupBy("seg").agg(F.sum("n").alias("n")).collect())
    if len(seg_sizes) <= 1:
        return store  # nothing to fold
    largest = int(max(seg_sizes, key=lambda r: (int(r["n"]), -int(r["seg"])))["seg"])
    # the folded segment's id is the new epoch: unique, never collides
    # with a live seg id
    with job_description(spark, "compact:rewrite"):
        _run_waves(spark, store, "compact_tail", ep,
                   list(range(ep.cfg["n_buckets"])),
                   lambda wave: _rewrite_buckets(spark, store, ep, wave,
                                                 keep_seg=largest, seg=ep.new),
                   fail_after_bucket)

    # stats + tombstones are segment-invariant: hardlink, don't rewrite
    for dir_for in (store.doc_stats_dir_for, store.corpus_stats_dir_for,
                    store.term_stats_dir_for, store.tombstones_dir_for):
        if os.path.isdir(dir_for(ep.old)):
            _hardlink_tree(dir_for(ep.old), dir_for(ep.new))
    # sidecars are doc-set and df-invariant under a tail fold too
    from .sidecars import hardlink_sidecars

    hardlink_sidecars(store, ep.old, ep.new)
    _commit_epoch(store, ep.manifest, epoch=ep.new, n_segments=2)
    return store


def compaction_plan(spark: SparkSession, index_dir: str, *,
                    max_segments: int = 8,
                    full_ratio: float = 0.5) -> str:
    """Size-ratio-aware compaction decision (the Lucene merge-policy
    shape): returns ``"none"`` under the segment budget, ``"tiered"``
    when the tail is small relative to the base (fold only the tail,
    O(tail)), and ``"full"`` once the second-largest segment has grown
    to ``full_ratio`` of the base — at that point a tiered fold decodes
    nearly half the index anyway while leaving two rival segments, so
    paying ~2x once to reclaim the tight single-segment layout (and
    consume tombstones) is the better trade. The decision needs one
    block-METADATA aggregate (bucket files' (seg, n) columns), never a
    decode."""
    store = IndexStorage(index_dir)
    manifest = store.read_manifest()
    if int(manifest.get("n_segments", 1)) <= max_segments:
        return "none"
    sizes = sorted((int(r["n"]) for r in
                    store.postings(spark, int(manifest["epoch"]))
                    .groupBy("seg").agg(F.sum("n").alias("n")).collect()),
                   reverse=True)
    if len(sizes) <= 1:
        return "none"
    return "full" if sizes[1] >= full_ratio * sizes[0] else "tiered"


def maybe_compact(spark: SparkSession, index_dir: str, *,
                  max_segments: int = 8, mode: str = "full") -> bool:
    """Compaction policy: fold segments when the live count exceeds
    ``max_segments`` (each live segment adds one WAND cursor per query
    term and loosens block ranges, so read amplification grows with the
    count). ``mode="full"`` restores the single-segment layout
    (O(index), bit-identical to a fresh build); ``mode="tiered"`` folds
    only the tail segments (O(tail) — the at-scale steady-state
    cadence); ``mode="auto"`` picks per compaction_plan (tiered while
    the tail is small, full once the folded tier rivals the base).
    Returns True if a compaction ran."""
    store = IndexStorage(index_dir)
    if int(store.read_manifest().get("n_segments", 1)) <= max_segments:
        return False
    if mode == "auto":
        mode = compaction_plan(spark, index_dir, max_segments=max_segments)
        if mode == "none":
            return False
    if mode == "tiered":
        compact_tail(spark, index_dir)
    else:
        compact_index(spark, index_dir)
    return True
