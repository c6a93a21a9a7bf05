#!/usr/bin/env python
"""spark-submit entry point: incremental index maintenance.

The reference exposes ingest / delete as HTTP endpoints
(/root/reference/api/ingest.py:15-62, /root/reference/api/delete.py:11-31);
this CLI is the batch-job analog over the same index:

  # append / upsert a delta (a Lucene-style segment: O(delta))
  spark-submit scripts/ingest.py append --index IDX --input delta.parquet
  # tombstone documents by url (postings cleaned at the next merge/compact)
  spark-submit scripts/ingest.py delete --index IDX --url https://a --url https://b
  # fold all segments back to seg=0 + GC tombstones (compaction cadence)
  spark-submit scripts/ingest.py compact --index IDX

Also runnable directly with plain `python` for local use.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _session(master: str | None):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("super-rag-spark-ingest")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC -Xmn16g")
        # local mode defaults to task maxFailures=1: one transient
        # python-worker death kills the whole job (clusters run with 4)
        .config("spark.task.maxFailures", "4")
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.adaptive.enabled", "true")
    )
    if master:
        builder = builder.master(master)
        cores = master.split("[")[-1].rstrip("]")
        if cores.isdigit():
            builder = builder.config("spark.sql.shuffle.partitions", cores)
    return builder.config("spark.sql.session.timeZone", "UTC").getOrCreate()


def _stats(index_dir: str) -> dict:
    """Metadata-only index snapshot (north-rule 'metrics'): manifest,
    per-bucket size distribution (the skew signal), the parquet writers
    (``created_by``) of the postings and positions files, term_stats
    file and term counts, pending tombstones, lineage record count.
    Reads parquet FOOTERS at most — no Spark session, no postings
    decode; safe to run against a live index of any size."""
    import statistics

    import pyarrow.parquet as pq

    from super_rag_spark.index.storage import IndexStorage

    store = IndexStorage(index_dir)
    m = store.read_manifest()
    pdir = store.postings_dir

    bucket_bytes: dict[str, int] = {}
    # row groups per postings file, and each row group's compressed
    # bytes: a cold query term reads its whole row group once per epoch
    rg_counts: list[int] = []
    rg_bytes = [0]
    writers: set[str] = set()  # each file's parquet created_by
    for entry in sorted(os.listdir(pdir)):
        bdir = os.path.join(pdir, entry)
        if not (entry.startswith("bucket=") and os.path.isdir(bdir)):
            continue
        sz = 0
        for f in os.listdir(bdir):
            if f.endswith(".parquet"):
                path = os.path.join(bdir, f)
                sz += os.path.getsize(path)
                md = pq.read_metadata(path)
                writers.add(md.created_by)
                rg_counts.append(md.num_row_groups)
                rg_bytes.extend(
                    sum(rg.column(c).total_compressed_size
                        for c in range(rg.num_columns))
                    for rg in map(md.row_group, range(md.num_row_groups)))
        bucket_bytes[entry.split("=", 1)[1]] = sz

    # the positions sidecar's parquet writers (empty without one)
    pos_writers = {pq.read_metadata(os.path.join(root, f)).created_by
                   for root, _, files in os.walk(
                       store.positions_dir_for(m["epoch"]))
                   for f in files if f.endswith(".parquet")}

    # term_stats: one file per bucket, one row per term (footers only)
    ts_rows = [pq.read_metadata(os.path.join(root, f)).num_rows
               for root, _, files in os.walk(store.term_stats_dir_for(m["epoch"]))
               for f in files if f.endswith(".parquet")]

    tombs = 0
    tdir = store.tombstones_dir
    if tdir and os.path.isdir(tdir):
        for root, _, files in os.walk(tdir):
            for f in files:
                if f.endswith(".parquet"):
                    tombs += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows

    lineage_records = 0
    if os.path.isdir(store.lineage_dir):
        for f in os.listdir(store.lineage_dir):
            if f.endswith(".json"):
                with open(os.path.join(store.lineage_dir, f)) as fh:
                    lineage_records += sum(1 for line in fh if line.strip())

    sizes = list(bucket_bytes.values()) or [0]
    return {
        "event": "stats",
        "epoch": m["epoch"],
        "n_docs": m["n_docs"],
        "n_segments": m.get("n_segments", 1),
        "avgdl": m["avgdl"],
        "n_buckets": m["n_buckets"],
        "index_bytes": sum(sizes),
        "postings_files": len(rg_counts),
        "row_groups_per_file": {
            "min": min(rg_counts, default=0),
            "max": max(rg_counts, default=0),
            "mean": round(statistics.mean(rg_counts or [0]), 2),
        },
        "max_row_group_compressed_bytes": max(rg_bytes),
        "postings_writers": sorted(writers),
        "positions_writers": sorted(pos_writers),
        "term_stats_files": len(ts_rows),
        "n_terms": sum(ts_rows),
        "pending_tombstones": tombs,
        "lineage_records": lineage_records,
        "bucket_bytes": {
            "min": min(sizes), "max": max(sizes),
            "mean": round(statistics.mean(sizes), 1),
            # balanced term-hash bucketing should keep this near 1.0;
            # a high ratio means head-term skew outran the salting
            "max_over_mean": round(max(sizes) / max(statistics.mean(sizes), 1), 3),
        },
        "manifest": m,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_app = sub.add_parser("append", help="append/upsert a delta corpus")
    p_app.add_argument("--index", required=True)
    p_app.add_argument("--input", required=True, help="delta parquet (url, text|html)")
    p_app.add_argument("--from-html", action="store_true")
    p_app.add_argument("--extract-mode", choices=["html", "any"], default="html")
    p_app.add_argument("--master", default=None)

    p_del = sub.add_parser("delete", help="tombstone documents by url")
    p_del.add_argument("--index", required=True)
    p_del.add_argument("--url", action="append", required=True)
    p_del.add_argument("--master", default=None)

    p_cmp = sub.add_parser("compact", help="fold segments to seg=0, GC tombstones")
    p_cmp.add_argument("--index", required=True)
    p_cmp.add_argument("--tiered", action="store_true",
                       help="fold only the tail segments (O(delta), keeps "
                            "tombstones pending) instead of the full rebuild")
    p_cmp.add_argument("--master", default=None)

    p_pos = sub.add_parser(
        "positions",
        help="(re)build the positional sidecar for the CURRENT epoch "
             "(merges/compactions create a new epoch without it; run "
             "this over the merged corpus to restore index-only phrase)")
    p_pos.add_argument("--index", required=True)
    p_pos.add_argument("--input", required=True,
                       help="the full current corpus parquet (url, text|html)")
    p_pos.add_argument("--from-html", action="store_true")
    p_pos.add_argument("--extract-mode", choices=["html", "any"],
                       default="html")
    p_pos.add_argument("--master", default=None)

    p_voc = sub.add_parser(
        "vocab",
        help="(re)build the vocabulary sidecar for the CURRENT epoch "
             "(enables typo-tolerant --fuzzy queries; merges drop it)")
    p_voc.add_argument("--index", required=True)
    p_voc.add_argument("--depth", type=int, default=1,
                       help="deletion-neighborhood depth (2 enables "
                            "fuzzy max_dist=2)")
    p_voc.add_argument("--input", required=True,
                       help="the full current corpus parquet (url, text|html)")
    p_voc.add_argument("--from-html", action="store_true")
    p_voc.add_argument("--extract-mode", choices=["html", "any"],
                       default="html")
    p_voc.add_argument("--master", default=None)

    p_st = sub.add_parser(
        "stats", help="index health/metrics snapshot (no Spark job)")
    p_st.add_argument("--index", required=True)

    p_vf = sub.add_parser(
        "verify",
        help="integrity check (fsck): decode every posting block and "
             "cross-check df / doc_stats / avgdl / block metadata "
             "(O(index) — run on the compaction cadence)")
    p_vf.add_argument("--index", required=True)
    p_vf.add_argument("--master", default=None)

    args = ap.parse_args()
    if args.cmd == "stats":
        print(json.dumps(_stats(args.index)))
        return 0
    spark = _session(args.master)
    t0 = time.time()
    try:
        if args.cmd == "append":
            from super_rag_spark.index.merge import merge_append
            from super_rag_spark.index.storage import IndexStorage

            # the delta must carry whatever the INDEX was built with:
            # meta_cols ride into doc_stats, and a pre-extracted append
            # to a title-weighted index needs the title field
            m = IndexStorage(args.index).read_manifest()
            cols = ["url", "html" if args.from_html else "text"]
            if not args.from_html and int(m.get("title_weight", 1)) > 1:
                cols.append("title")
            cols += [c for c in m.get("meta_cols", []) if c not in cols]
            delta = spark.read.parquet(args.input)
            store = merge_append(
                spark, args.index, delta.select(*cols),
                text_is_extracted=not args.from_html,
                extract_mode=args.extract_mode)
            m = store.read_manifest()
            print(json.dumps({"event": "appended",
                              "epoch": m["epoch"], "n_docs": m["n_docs"],
                              "elapsed_sec": round(time.time() - t0, 3)}))
        elif args.cmd == "delete":
            from super_rag_spark.query.engine import BM25Engine

            n = BM25Engine(spark, args.index).delete_urls(args.url)
            print(json.dumps({"event": "deleted", "n_tombstoned": n,
                              "elapsed_sec": round(time.time() - t0, 3)}))
        elif args.cmd == "positions":
            from super_rag_spark.index.positions import build_positions

            docs = spark.read.parquet(args.input)
            store = build_positions(
                spark, docs.select("url", "html" if args.from_html
                                   else "text"),
                args.index, text_is_extracted=not args.from_html,
                extract_mode=args.extract_mode)
            print(json.dumps({
                "event": "positions_built",
                "epoch": store.read_manifest()["epoch"],
                "elapsed_sec": round(time.time() - t0, 3)}))
        elif args.cmd == "vocab":
            from super_rag_spark.index.vocab import build_vocab

            docs = spark.read.parquet(args.input)
            store = build_vocab(
                spark, docs.select("url", "html" if args.from_html
                                   else "text"),
                args.index, text_is_extracted=not args.from_html,
                extract_mode=args.extract_mode, depth=args.depth)
            print(json.dumps({
                "event": "vocab_built",
                "epoch": store.read_manifest()["epoch"],
                "elapsed_sec": round(time.time() - t0, 3)}))
        elif args.cmd == "verify":
            from super_rag_spark.index.verify import verify_index

            report = verify_index(spark, args.index)
            report["elapsed_sec"] = round(time.time() - t0, 3)
            print(json.dumps({"event": "verified", **report}))
            return 0 if report["ok"] else 1
        else:
            from super_rag_spark.index.merge import compact_index, compact_tail

            fold = compact_tail if args.tiered else compact_index
            store = fold(spark, args.index)
            m = store.read_manifest()
            print(json.dumps({"event": "compacted", "tiered": args.tiered,
                              "epoch": m["epoch"], "n_docs": m["n_docs"],
                              "n_segments": m.get("n_segments", 1),
                              "elapsed_sec": round(time.time() - t0, 3)}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
