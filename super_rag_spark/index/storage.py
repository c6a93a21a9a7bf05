"""Thin index-table layout over a directory of Parquet tables.

The reference's "index/collection create-if-absent" (SURVEY.md §2.1 S6,
e.g. /root/reference/vectordbs/qdrant.py:30-41) maps here to a directory
convention behind the Catalog seam in catalog.py; on a cluster with the
Iceberg runtime the same layout maps 1:1 onto Iceberg tables
(`postings` PARTITIONED BY (bucket), `term_stats`, `doc_stats`,
`corpus_stats`, `lineage`, `tombstones`) — see SURVEY.md §7.

EVERYTHING mutable is epoch-scoped and the manifest is the single
switch: postings_e<N>, term_stats_e<N>, doc_stats_e<N>,
corpus_stats_e<N>, tombstones_e<N>. A merge builds epoch N+1 side by
side and readers move with ONE atomic manifest replace; directories of
dead epochs are GC'd only after that replace succeeds, so a crash at
any point leaves the old epoch fully intact (including its pending
tombstones).

Postings blocks (v3) are STATS-FREE: they depend only on the (term,
salt) group's own postings — no df, no corpus-dependent block_max_score
— so an append rewrites only groups whose postings actually changed
(O(delta) merge) while staying bit-identical to a from-scratch build.
The WAND upper bound is computed at query time from (block_max_tf,
block_min_dl) + manifest stats + the term_stats df.

Layout:
  <root>/manifest.json          analyzer + index config + epoch + stats
  <root>/postings_e<N>/bucket=<b>/   posting blocks by term-hash bucket
  <root>/term_stats_e<N>/bucket=<b>/ (term_id, df) per bucket: one
                                     file sorted by term_id, df = sum of
                                     the bucket's block n per term
                                     (build._write_term_stats_bucket)
  <root>/doc_stats_e<N>/             (doc_id, url, dl)
  <root>/corpus_stats_e<N>/          single row (n_docs, avgdl, total_tokens)
  <root>/lineage/                    per-bucket build/merge commit records
  <root>/tombstones_e<N>/            deleted doc_ids targeting epoch N
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING, NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    from .termdir import TermDirectory

# seg: Lucene-style segment id. A (term, salt, seg) run is doc-sorted
# and non-overlapping; different segs of the same term MAY overlap in
# doc range (WAND opens one cursor per run). seg=0 is the compacted
# base; merge_append() appends delta blocks as seg=<epoch> WITHOUT
# decoding old groups, compact_tail() folds the tail segments into one
# seg=<epoch>, and compact_index() folds everything back to seg=0
# (bit-identical to a from-scratch build).
POSTINGS_SCHEMA = (
    "term_id long, salt int, seg int, block_id int, n int, "
    "first_doc_id long, last_doc_id long, "
    "docs_enc binary, tfs_enc binary, dls_enc binary, "
    "block_max_tf int, block_min_dl int, bucket int"
)

TERM_STATS_SCHEMA = "term_id long, df long, bucket int"

# r4 opt-in positional sidecar (index/positions.py): per-(term, doc)
# token positions, blocked like postings. counts[i] == tf; the pos
# stream delta-resets at each doc (codec.encode_positions_block).
POSITIONS_SCHEMA = (
    "term_id long, block_id int, n int, first_doc_id long, last_doc_id long, "
    "docs_enc binary, cnt_enc binary, pos_enc binary, bucket int"
)

LINEAGE_SCHEMA = (
    "bucket int, phase string, n_terms long, n_blocks long, n_postings long, "
    "status string, epoch int"
)


def bucket_of_term_id(term_id: int, n_buckets: int) -> int:
    """Term-hash bucket from the numeric term id (xxhash64-uniform), so
    the exact same arithmetic runs in the block builder, at query
    planning time on the driver, and in SQL — no dependence on Spark's
    Murmur3. Python ``%`` with a positive divisor is non-negative even
    for the signed ids, matching Spark's pmod."""
    return term_id % n_buckets


def bucket_of_term(term: str, n_buckets: int) -> int:
    from ..analysis import term_id_for

    return bucket_of_term_id(term_id_for(term), n_buckets)


class IndexStorage:
    def __init__(self, root: str, catalog=None):
        from ..catalog import ParquetCatalog

        self.root = root
        # generic tables (doc/corpus/term stats, tombstones) go through
        # the Catalog seam; postings keep their specialized bucket-dir
        # layout (see catalog.py module docstring)
        self.catalog = catalog if catalog is not None else ParquetCatalog()
        self.lineage_dir = os.path.join(root, "lineage")
        self.manifest_path = os.path.join(root, "manifest.json")

    # ---- manifest -------------------------------------------------------
    def write_manifest(self, cfg: dict) -> None:
        """Atomic and durable: the new manifest's bytes reach disk before
        the rename, and the rename before this returns — an epoch switch
        survives a power loss once the call is done."""
        os.makedirs(self.root, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cfg, f, indent=2, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.manifest_path)
        fd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def read_manifest(self) -> dict:
        with open(self.manifest_path) as f:
            return json.load(f)

    def epoch(self) -> int:
        return int(self.read_manifest()["epoch"])

    # ---- per-epoch directories ------------------------------------------
    def bucket_dir(self, table: str, epoch: int, bucket: int) -> str | None:
        """The ``bucket=<bucket>`` dir of an epoch-scoped table
        (``postings``, ``term_stats``, ``positions`` or ``vocab``) — the
        one place that decides what a missing bucket dir means.

        - When the index has moved past ``epoch``, a merge GC'd the
          epoch's files after its commit: FileNotFoundError naming both
          epochs. The manifest is read only on this failure path. An
          epoch past the live one is being written by a merge.
        - Build, merge and compaction write every ``postings``,
          ``term_stats`` and ``positions`` bucket dir, so a missing one
          is lost data: FileNotFoundError.
        - The vocab build writes only the buckets that hold terms, so a
          missing ``vocab`` dir is an empty bucket: None.
        """
        p = os.path.join(getattr(self, f"{table}_dir_for")(epoch),
                         f"bucket={bucket}")
        if os.path.isdir(p):
            return p
        live = self.epoch()
        if live > epoch:
            raise FileNotFoundError(
                f"{p}: the query's snapshot is epoch {epoch},"
                f" but the index has moved to epoch {live}")
        if table != "vocab":
            raise FileNotFoundError(
                f"{table} bucket {bucket} of epoch {epoch} is missing: {p}")
        return None

    def postings_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"postings_e{epoch}")

    def term_stats_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"term_stats_e{epoch}")

    def doc_stats_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"doc_stats_e{epoch}")

    def corpus_stats_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"corpus_stats_e{epoch}")

    def tombstones_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"tombstones_e{epoch}")

    def positions_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"positions_e{epoch}")

    def vocab_dir_for(self, epoch: int) -> str:
        return os.path.join(self.root, f"vocab_e{epoch}")

    def has_vocab(self, epoch: int | None = None) -> bool:
        """True iff the vocabulary sidecar (index/vocab.py — fuzzy term
        matching) exists for this epoch. Merges carry it forward via
        the df fold in index/sidecars.py (r5); it only goes absent when
        a crash-resume lost the staging sidecar."""
        d = self.vocab_dir_for(self.epoch() if epoch is None else epoch)
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def has_positions(self, epoch: int | None = None) -> bool:
        """True iff the positional sidecar exists for this epoch.
        Merges carry it forward (segment links + hit-group rebuilds,
        index/sidecars.py r5); when absent (fresh index without it, or
        a degraded crash-resume) phrase queries fall back to
        match-then-verify until build_positions runs."""
        d = self.positions_dir_for(self.epoch() if epoch is None else epoch)
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    @property
    def postings_dir(self) -> str:
        return self.postings_dir_for(self.epoch())

    @property
    def doc_stats_dir(self) -> str:
        return self.doc_stats_dir_for(self.epoch())

    @property
    def corpus_stats_dir(self) -> str:
        return self.corpus_stats_dir_for(self.epoch())

    @property
    def tombstones_dir(self) -> str:
        return self.tombstones_dir_for(self.epoch())

    # ---- tables ---------------------------------------------------------
    def postings(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        d = self.postings_dir_for(self.epoch() if epoch is None else epoch)
        return spark.read.schema(POSTINGS_SCHEMA).parquet(d)

    def term_stats(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        d = self.term_stats_dir_for(self.epoch() if epoch is None else epoch)
        return self.catalog.read(spark, d, schema=TERM_STATS_SCHEMA)

    def doc_stats(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        d = self.doc_stats_dir_for(self.epoch() if epoch is None else epoch)
        return self.catalog.read(spark, d)

    def corpus_stats(self, spark: SparkSession, epoch: int | None = None) -> dict:
        d = self.corpus_stats_dir_for(self.epoch() if epoch is None else epoch)
        row = self.catalog.read(spark, d).collect()[0]
        return row.asDict()

    def write_corpus_stats(self, spark: SparkSession, epoch: int, n_docs: int,
                           avgdl: float, total_tokens: int) -> None:
        """The epoch's one corpus_stats row, from a JVM-only frame: a
        local Python list would start a Python worker to write one row.
        Each value sits in a ``when`` with no else branch, so the
        columns stay nullable, as the table's always were."""
        from pyspark.sql import functions as F

        def col(name: str, value, dtype: str):
            return F.when(F.col("id") == 0,
                          F.lit(value).cast(dtype)).alias(name)

        self.catalog.overwrite(
            spark.range(1, numPartitions=1).select(
                col("n_docs", int(n_docs), "long"),
                col("avgdl", float(avgdl), "double"),
                col("total_tokens", int(total_tokens), "long")),
            self.corpus_stats_dir_for(epoch))

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(LINEAGE_SCHEMA).json(self.lineage_dir)

    def tombstones(self, spark: SparkSession, epoch: int | None = None) -> DataFrame | None:
        d = self.tombstones_dir_for(self.epoch() if epoch is None else epoch)
        if not self.catalog.exists(spark, d):
            return None
        # a directory without data files has no schema to infer; any
        # other read error (a corrupt file) must surface — merges would
        # otherwise consume the tombstones and resurrect deleted docs
        if os.path.isdir(d) and all(n.startswith(("_", "."))
                                    for n in os.listdir(d)):
            return None
        df = self.catalog.read(spark, d)
        return df if len(df.columns) else None

    def append_tombstones(self, doc_ids_df: DataFrame) -> None:
        self.catalog.append(doc_ids_df.select("doc_id"),
                            self.tombstones_dir_for(self.epoch()))

    # ---- lineage ----------------------------------------------------------
    def append_lineage(self, spark: SparkSession, records: list[dict]) -> None:
        """Lineage records are tiny per-bucket commit markers; written as
        JSON lines so appends are atomic per file (north_rule: resumable
        merge needs bucket-level commits without table transactions)."""
        os.makedirs(self.lineage_dir, exist_ok=True)
        for rec in records:
            name = f"{rec['phase']}-epoch{rec['epoch']}-bucket{rec['bucket']}.json"
            tmp = os.path.join(self.lineage_dir, "." + name + ".tmp")
            with open(tmp, "w") as f:
                json.dump(rec, f)
            os.replace(tmp, os.path.join(self.lineage_dir, name))

    def committed_buckets(self, phase: str, epoch: int) -> set[int]:
        if not os.path.isdir(self.lineage_dir):
            return set()
        out = set()
        prefix = f"{phase}-epoch{epoch}-bucket"
        for name in os.listdir(self.lineage_dir):
            if name.startswith(prefix) and name.endswith(".json"):
                with open(os.path.join(self.lineage_dir, name)) as f:
                    rec = json.load(f)
                if rec.get("status") == "committed":
                    out.add(int(rec["bucket"]))
        return out

    # ---- GC ---------------------------------------------------------------
    def gc_stale_epochs(self) -> list[str]:
        """Remove directories of epochs other than the manifest's (safe
        any time AFTER a manifest switch; a crash between switch and GC
        is healed by calling this at the start of the next merge)."""
        import re
        import shutil

        live = self.epoch()
        removed = []
        pat = re.compile(
            r"^(postings|term_stats|doc_stats|corpus_stats|tombstones"
            r"|positions|vocab|staging)_e(\d+)$")
        for name in os.listdir(self.root):
            m = pat.match(name)
            if not m:
                continue
            kind, ep = m.group(1), int(m.group(2))
            # ONLY strictly-older epochs: dirs of epoch > live belong to
            # an in-flight (possibly crashed, resumable) merge and must
            # survive. staging dirs are keyed by their TARGET epoch, so
            # staging_e<live> (already consumed) is also stale.
            stale = (ep <= live) if kind == "staging" else (ep < live)
            if stale:
                p = os.path.join(self.root, name)
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        return removed


class Snapshot(NamedTuple):
    """One query's view of an index, taken once at its start: the
    storage it was taken from, the manifest's epoch, BM25 statistics and
    bucket count, the epoch's pending tombstones (``deleted``, sorted
    int64) and term directory (``terms``, which does not pickle). Every
    driver loader and scorer and every distributed plan of the query
    reads these — df, postings, tombstones and doc_stats of ``epoch`` —
    never the live manifest, so a merge that lands mid-query cannot mix
    two epochs: it answers from its epoch or raises."""

    store: IndexStorage
    epoch: int
    n_docs: int
    avgdl: float
    k1: float
    b: float
    n_buckets: int
    manifest: dict
    deleted: np.ndarray
    terms: TermDirectory

    @property
    def bm25(self) -> dict:
        """Keyword arguments every driver scorer in query/wand.py takes."""
        return {"n_docs": self.n_docs, "avgdl": self.avgdl, "k1": self.k1,
                "b": self.b, "deleted": self.deleted}
