"""Structured Streaming ingest: continuous index maintenance.

The reference is request-driven (SURVEY.md §2.10 — no streaming
operators), so this is the Spark-native extension of its incremental
behavior: a file-source stream of webtext parquet drops, each
micro-batch folded into the live index through the SAME resumable
merge operator used for batch appends (index/merge.py).

Exactly-once per micro-batch holds across BOTH failure windows:
- crash mid-merge: Spark's checkpoint replays the batch, the merge
  resumes idempotently (staging reused, committed buckets skip);
- crash AFTER the merge finalized but BEFORE the streaming checkpoint
  committed offsets: the replayed batch carries the same batch_id,
  which the manifest already records — merge_append returns without
  touching the index (no duplicate postings, no double-counted stats).

At scale this is `readStream` over an Iceberg CDC feed; locally it's
the parquet file source with availableNow for deterministic tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .index.merge import merge_append

WEBTEXT_SCHEMA_DDL = ("url string, warc_ts timestamp, html binary, "
                      "text string, lang string")

EVENTS_SCHEMA_DDL = ("event_id long, ts timestamp, user_id long, "
                     "event_type string, value double, props string")


def stream_event_windows(spark: SparkSession, input_dir: str,
                         window: str = "1 hour",
                         watermark: str = "2 hours"):
    """Watermarked tumbling-window aggregation over an event stream —
    the late-data streaming analog of the batch `events_by_hour`
    operator (contract.py): events later than ``watermark`` behind the
    max seen ts are dropped, closed windows emit finalized counts.

    Returns the unsunk streaming DataFrame
    (window_start, window_end, event_type, n_events, total_value);
    callers attach writeStream (tests use a memory sink with
    availableNow; production appends to an Iceberg table). State is
    bounded by the watermark horizon — this is the shape that runs
    indefinitely at cluster scale, not a collect-and-regroup loop."""
    s = (spark.readStream.schema(EVENTS_SCHEMA_DDL)
         .option("maxFilesPerTrigger", 8)
         .parquet(input_dir))
    from pyspark.sql import functions as F

    return (
        s.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "total_value")
    )


def stream_ingest(spark: SparkSession, input_dir: str, index_dir: str,
                  checkpoint_dir: str | None = None,
                  available_now: bool = True,
                  compact_every: int | None = None,
                  compact_max_segments: int | None = None,
                  compact_tiered: bool = False,
                  max_files_per_trigger: int = 8):
    """Fold every new parquet file in ``input_dir`` into the index.

    Each micro-batch lands as a new Lucene-style segment — O(delta) per
    batch, no old group re-encoded (index/merge.py merge_append).
    Compaction cadence, pick one (or neither and schedule
    compact_index() out-of-band):
    - ``compact_every=N``: fold when N segments have accumulated since
      the last compaction (each non-empty batch adds one segment, so
      this is the every-N-batches cadence — but counted via the
      manifest's n_segments, NOT a process-local batch counter, so a
      stream restart can never defer compaction indefinitely);
    - ``compact_max_segments=K``: fold when the live segment count
      (manifest n_segments) exceeds K — bounds read amplification
      directly instead of by batch count.
    Both are restart-durable: the trigger state lives in the manifest.
    ``compact_tiered=True`` folds only the tail segments when the
    cadence fires (compact_tail, O(delta) steady state) instead of the
    full O(index) single-segment rebuild.

    Returns the StreamingQuery; with ``available_now`` the query drains
    the currently-visible files and stops (deterministic for tests and
    backfills); without it, it keeps watching the directory.
    """
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint")

    stream = (
        spark.readStream.schema(WEBTEXT_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    def fold(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # stream_batch_id makes the fold exactly-once even across the
        # checkpoint/manifest gap: if the process dies after the merge
        # finalized but before the streaming checkpoint committed the
        # offsets, the replayed batch carries the same batch_id and
        # merge_append returns without touching the index.
        merge_append(spark, index_dir, batch_df.select("url", "text"),
                     stream_batch_id=batch_id)
        # cadence state = manifest n_segments (durable across restarts;
        # an in-memory batch counter resets with the process and could
        # defer compaction forever under repeated restarts — ADVICE r2)
        limit = compact_max_segments or compact_every
        if limit:
            from .index.merge import maybe_compact

            maybe_compact(spark, index_dir, max_segments=limit,
                          mode="tiered" if compact_tiered else "full")

    writer = stream.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOCS_SCHEMA_DDL = ("doc_id long, text string, lang string, "
                   "source string, n_chars long")


def stream_clean(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str, *, min_tokens: int = 20,
                 keep_langs: tuple = ("en", "de", "fr", "es"),
                 jaccard_threshold: float = 0.5,
                 max_files_per_trigger: int = 4,
                 available_now: bool = True):
    """Streaming training-data cleaner: the clean_corpus pipeline
    (textops.py) as a continuously running job over a document feed.

    Semantics per micro-batch:
      - quality + language gates: stateless column predicates — they
        ride the stream untouched.
      - EXACT dedup: enforced ACROSS batches. Each batch's survivors
        anti-join on md5(text) against everything already written to
        the sink, so a document seen in any earlier batch never
        re-emits. State lives in the sink itself (no unbounded
        streaming state; at scale the sink is an Iceberg table and the
        probe is a metadata-pruned hash-column scan).
      - NEAR-DUP (MinHash-LSH) dedup: within-batch only. Cross-batch
        near-dup discovery belongs to the periodic batch clean /
        compaction job — the same division of labor Lucene-style
        engines use between NRT flushes and background merges
        (documented limit, not an accident).

    Exactly-once: each batch writes mode("overwrite") into its own
    ``batch=<id>`` subdirectory, so a replayed batch (crash between
    sink write and checkpoint commit) overwrites its own output
    instead of duplicating it. Readers consume ``output_dir/batch=*``.
    """
    import os as _os

    from pyspark.sql import functions as F

    from .textops import clean_corpus

    s = (spark.readStream.schema(DOCS_SCHEMA_DDL)
         .option("maxFilesPerTrigger", max_files_per_trigger)
         .parquet(input_dir))

    def fold(batch_df, batch_id: int) -> None:
        out = clean_corpus(batch_df, min_tokens=min_tokens,
                           keep_langs=keep_langs,
                           jaccard_threshold=jaccard_threshold)
        # probe every PRIOR batch dir — excluding this batch's own (a
        # replayed batch must not anti-join against its previous partial
        # write, or the replay would emit an empty batch and lose docs)
        prior = sorted(
            _os.path.join(output_dir, d)
            for d in (_os.listdir(output_dir)
                      if _os.path.isdir(output_dir) else [])
            if d.startswith("batch=") and d != f"batch={batch_id}")
        if prior:
            seen = (spark.read.parquet(*prior)
                    .select(F.md5("text").alias("_h")).distinct())
            out = (out.withColumn("_h", F.md5("text"))
                   .join(seen, "_h", "left_anti").drop("_h"))
        (out.write.mode("overwrite")
            .parquet(_os.path.join(output_dir, f"batch={batch_id}")))

    w = (s.writeStream.foreachBatch(fold)
         .option("checkpointLocation", checkpoint_dir))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_percolate(spark: SparkSession, input_dir: str, output_dir: str,
                     checkpoint_dir: str, queries, *,
                     qs: bool = False,
                     max_files_per_trigger: int = 4,
                     available_now: bool = True):
    """Streaming reverse search (query/percolate.py as a continuous
    alerting job): every micro-batch of new documents is matched
    against the stored-query table; fired (doc_id, query_id,
    n_matched) rows land in exactly-once ``batch=<id>`` sinks (the
    stream_clean device — a replayed batch overwrites its own output).
    Stateless across batches by design: a percolator alert is a
    per-document decision, so there is no streaming state at all.

    ``qs=True`` (r5): ``queries`` is ``[(query_id, query_string)]``
    and each micro-batch runs percolate_qs — standing ALERT TREES
    (parens/AND/OR/NOT + phrases) instead of term bags; fired rows
    are (doc_id, query_id)."""
    import os as _os

    from .query.percolate import percolate, percolate_qs

    s = (spark.readStream.schema(DOCS_SCHEMA_DDL)
         .option("maxFilesPerTrigger", max_files_per_trigger)
         .parquet(input_dir))

    def fold(batch_df, batch_id: int) -> None:
        out = (percolate_qs(batch_df, queries) if qs
               else percolate(batch_df, queries))
        (out.write.mode("overwrite")
            .parquet(_os.path.join(output_dir, f"batch={batch_id}")))

    w = (s.writeStream.foreachBatch(fold)
         .option("checkpointLocation", checkpoint_dir))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
