"""Structured Streaming ingest folds micro-batches into the index via
the resumable merge; final index equals a batch build over everything."""


import pyarrow.parquet as pq


def test_stream_ingest_matches_batch_build(spark, webtext_sf0001_path, tmp_path):
    from super_rag_spark.query.engine import BM25Engine
    from super_rag_spark.streaming import stream_ingest

    tbl = pq.read_table(webtext_sf0001_path).select(
        ["url", "warc_ts", "html", "text", "lang"]).slice(0, 240)

    # seed index with the first 120 docs; stream in two more drops of 60
    seed = tbl.slice(0, 120)
    drops = [tbl.slice(120, 60), tbl.slice(180, 60)]
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    idx_dir = str(tmp_path / "idx")

    seed_df = spark.createDataFrame(seed.to_pandas()[["url", "text"]])
    eng = BM25Engine(spark, idx_dir).build(seed_df, n_buckets=8)

    for i, drop in enumerate(drops):
        pq.write_table(drop, str(in_dir / f"drop{i}.parquet"))
    q = stream_ingest(spark, str(in_dir), idx_dir, available_now=True)
    q.awaitTermination(300)

    eng = BM25Engine(spark, idx_dir)
    assert eng.manifest["n_docs"] == 240

    want_df = spark.createDataFrame(tbl.to_pandas()[["url", "text"]])
    want = BM25Engine(spark, str(tmp_path / "want")).build(want_df, n_buckets=8)
    for query in ["semudo muro", "fuboname", "zibapevi"]:
        assert eng.topk(query, 10) == want.topk(query, 10)


def test_stream_event_windows_matches_batch(spark, tmp_path):
    """Watermarked windowed aggregation over an event stream equals the
    batch groupBy(window) over the same events once the stream drains
    (complete mode; append-mode finalization depends on watermark
    advancement across micro-batches, which a finite fixture can't pin
    deterministically)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from super_rag_spark.streaming import stream_event_windows

    tbl = pq.read_table("/root/testdata/sf0.001/events.parquet")
    in_dir = tmp_path / "events_in"
    in_dir.mkdir()
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), str(in_dir / "drop0.parquet"))
    pq.write_table(tbl.slice(half), str(in_dir / "drop1.parquet"))

    agg = stream_event_windows(spark, str(in_dir))
    q = (agg.writeStream.format("memory").queryName("evw")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.table("evw").collect()}
    want = {tuple(r) for r in (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "total_value")
        .collect())}
    assert got == want and len(got) > 0


def test_stream_with_compaction_cadence_bit_identical(spark, webtext_sf0001_path, tmp_path):
    """Segment-mode streaming with compact_every=2: after the stream
    drains, the index has been folded back to seg=0 and is BIT-IDENTICAL
    to a batch build over everything (not just score-equal)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from super_rag_spark.query.engine import BM25Engine
    from super_rag_spark.streaming import stream_ingest

    tbl = pq.read_table(webtext_sf0001_path).select(
        ["url", "warc_ts", "html", "text", "lang"]).slice(0, 200)
    seed = tbl.slice(0, 100)
    in_dir = tmp_path / "inc"
    in_dir.mkdir()
    idx_dir = str(tmp_path / "idx")
    eng = BM25Engine(spark, idx_dir).build(
        spark.createDataFrame(seed.to_pandas()[["url", "text"]]), n_buckets=8)
    for i in range(2):
        pq.write_table(tbl.slice(100 + 50 * i, 50), str(in_dir / f"d{i}.parquet"))
    # one file per micro-batch so two batches fold before the compaction
    q = stream_ingest(spark, str(in_dir), idx_dir, available_now=True, compact_every=2,
                      max_files_per_trigger=1)
    q.awaitTermination(300)

    eng = BM25Engine(spark, idx_dir)
    assert eng.manifest["n_docs"] == 200
    segs = {r["seg"] for r in
            eng.store.postings(spark).select("seg").distinct().collect()}
    assert segs == {0}

    want = BM25Engine(spark, str(tmp_path / "want")).build(
        spark.createDataFrame(tbl.to_pandas()[["url", "text"]]), n_buckets=8)
    cols = ["term_id", "salt", "block_id", "n", "first_doc_id", "last_doc_id",
            "docs_enc", "tfs_enc", "dls_enc", "block_max_tf", "block_min_dl",
            "bucket"]
    rows = lambda e: sorted(tuple(r) for r in
                            e.store.postings(spark).select(*cols).collect())
    assert rows(eng) == rows(want)


def test_stream_clean_matches_sequential_batches(spark, tmp_path):
    """stream_clean == applying clean_corpus batch-by-batch with
    cross-batch exact dedup against everything already emitted (the
    documented semantics: near-dup scope is within-batch)."""
    import os

    from pyspark.sql import functions as F

    from super_rag_spark.streaming import stream_clean
    from super_rag_spark.textops import clean_corpus

    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .orderBy("doc_id"))
    rows = docs.collect()
    # 3 feed files; plant a cross-batch EXACT dup: batch-2 re-sends a
    # batch-0 doc under a new doc_id (must be dropped by the sink probe)
    n = len(rows)
    thirds = [rows[:n // 3], rows[n // 3:2 * n // 3], rows[2 * n // 3:]]
    dup = thirds[0][0].asDict()
    dup["doc_id"] = 10_000_000
    thirds[2] = thirds[2] + [type(rows[0])(**dup)]

    in_dir = str(tmp_path / "feed")
    os.makedirs(in_dir)
    for i, part in enumerate(thirds):
        # flat single FILES (pq.write_table): the streaming file source
        # does not recurse into Spark-style output directories
        pdf = spark.createDataFrame(part, docs.schema).toPandas()
        import pyarrow as pa
        import pyarrow.parquet as _pq
        _pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                        os.path.join(in_dir, f"f{i}.parquet"))
    # one file per trigger -> 3 deterministic micro-batches, in order
    # (file source picks up files by modification time; write order above)
    out_dir = str(tmp_path / "clean_out")
    q = stream_clean(spark, in_dir, out_dir, str(tmp_path / "ckpt"),
                     max_files_per_trigger=1)
    q.awaitTermination(300)

    got = (spark.read.parquet(os.path.join(out_dir, "batch=*"))
           .select("doc_id").collect())
    got_ids = sorted(r["doc_id"] for r in got)

    # sequential reference over the same 3 file-batches
    seen_hashes: set = set()
    exp_ids: list = []
    for i in range(3):
        bdf = spark.read.parquet(os.path.join(in_dir, f"f{i}.parquet"))
        out = clean_corpus(bdf)
        for r in out.withColumn("_h", F.md5("text")).collect():
            if r["_h"] not in seen_hashes:
                exp_ids.append(r["doc_id"])
        seen_hashes |= {r["_h"] for r in
                        out.select(F.md5("text").alias("_h")).collect()}
    assert got_ids == sorted(exp_ids)
    assert 10_000_000 not in got_ids  # the planted cross-batch dup died
    assert len(got_ids) > 100  # non-vacuous
