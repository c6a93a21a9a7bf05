"""BM25Engine — the user-facing facade (replaces the reference's three
API endpoints: ingest / query / delete, /root/reference/router.py:8-10).

- build()        <- POST /api/v1/ingest  (/root/reference/api/ingest.py:15-62)
- query_batch()  <- POST /api/v1/query   (/root/reference/api/query.py:9-17),
                    distributed Spark plan for query batches
- topk()         <- same, driver fast path: pyarrow bucket+term-pruned
                    postings read + NumPy block-max WAND (p50 latency path,
                    SURVEY.md §3.2 allows this as long as ranks are identical)
- delete_urls()  <- DELETE /api/v1/delete (/root/reference/api/delete.py:11-31):
                    tombstone append; postings cleaned lazily at next merge
                    (anti-join at query time), mirroring SURVEY.md §2.7
- summary routing analog: queries starting with "summarize" are routed to
  the "<name>summary" index when present (/root/reference/service/router.py:81-87,
  /root/reference/utils/summarise.py:6) after stripping the routing keyword.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analysis import term_id_for, tokenize
from ..index.build import build_index, doc_id_expr
from ..index.storage import IndexStorage, bucket_of_term_id
from .scoring import score_query_batch, score_query_batch_wand
from .wand import vectorized_topk_arrays, wand_topk

# topk methods -> scorers. _driver_topk resolves the vectorized one
# through the wand module on each call, so a rebound function (a tracer)
# takes effect there as it does here for "wand".
_TOPK_METHODS = {
    "vectorized": vectorized_topk_arrays,  # cached decoded arrays (lowest latency)
    "wand": wand_topk,  # encoded blocks with block-max skipping
}

_BLOCK_COLS = ["term_id", "salt", "seg", "block_id", "n", "first_doc_id",
               "last_doc_id", "docs_enc", "tfs_enc", "dls_enc",
               "block_max_tf", "block_min_dl"]

# bytes charged to every cache entry on top of its payload: the key
# tuple, the term string and the value tuple
_ENTRY_BYTES = 200


class Snapshot(NamedTuple):
    """One query's view of the index, taken once at its start: the
    manifest's epoch, BM25 statistics and bucket count, and the epoch's
    pending tombstones (``deleted``, sorted int64). Every loader and
    scorer of the query reads these, never the live manifest, so a merge
    that lands mid-query cannot mix two epochs."""

    epoch: int
    n_docs: int
    avgdl: float
    k1: float
    b: float
    n_buckets: int
    manifest: dict
    deleted: np.ndarray

    @property
    def bm25(self) -> dict:
        """Keyword arguments every driver scorer in query/wand.py takes."""
        return {"n_docs": self.n_docs, "avgdl": self.avgdl, "k1": self.k1,
                "b": self.b, "deleted": self.deleted}


class _Cache:
    """LRU over ``(epoch, kind, key)`` bounded by one byte budget. An
    insert evicts least-recently-used entries of any kind until the
    total fits, but never the entry being inserted."""

    def __init__(self, budget: int):
        self.budget = budget
        self.used = 0
        self._entries: OrderedDict = OrderedDict()  # key -> (value, bytes)

    def __contains__(self, key) -> bool:
        return key in self._entries

    def __iter__(self):
        return iter(self._entries)

    def get(self, key):
        """The cached value (marked most recently used), else None."""
        hit = self._entries.get(key)
        if hit is None:
            return None
        self._entries.move_to_end(key)
        return hit[0]

    def put(self, key, value, nbytes: int = 0) -> None:
        old = self._entries.pop(key, None)
        if old is not None:
            self.used -= old[1]
        nbytes += _ENTRY_BYTES
        self._entries[key] = (value, nbytes)
        self.used += nbytes
        while self.used > self.budget and len(self._entries) > 1:
            self.used -= self._entries.popitem(last=False)[1][1]

    def keep_epoch(self, epoch: int) -> None:
        """Drop every entry of another epoch."""
        for key in [k for k in self._entries if k[0] != epoch]:
            self.used -= self._entries.pop(key)[1]

    def clear(self) -> None:
        self._entries.clear()
        self.used = 0


class BM25Engine:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.store = IndexStorage(index_dir)
        self._manifest: dict | None = None
        self._manifest_sig: tuple | None = None
        self._summary: BM25Engine | None = None  # see _route
        # Everything the driver path caches lives in one LRU keyed by
        # epoch: decoded postings (term -> (df, docs, tfs, dls) sorted by
        # doc_id, never masked), encoded blocks, df, decoded positions,
        # pyarrow dataset handles, vocab depth and tombstones. Head terms
        # repeat across real query streams, and a decoded hit skips
        # straight to scoring. Epoch keys mean a long-lived engine never
        # reads a GC'd epoch through a stale entry. The 512 MiB budget is
        # the old decoded-postings (16 M x 16 B) and positions
        # (32 M x 8 B) ceilings together.
        self._cache = _Cache(512 << 20)
        # driver-path guard (r4): a single query whose UNCACHED terms'
        # Σdf exceeds this never decodes postings onto the driver — it
        # falls back to the distributed plan instead. At 10^12 docs a
        # head term has ~10^11 postings; the cache budget above bounds
        # RETENTION, this bounds a single LOAD.
        self.driver_df_budget = 8_000_000
        self.driver_fallbacks = 0  # observability + test hook

    # ------------------------------------------------------------- build
    def build(self, docs_df: DataFrame, positions: bool = False,
              vocab: "bool | int" = False, **kwargs) -> "BM25Engine":
        """``positions=True`` (r4) also builds the positional sidecar
        (index/positions.py) so phrase queries run index-only;
        ``vocab=True`` builds the vocabulary sidecar (index/vocab.py)
        enabling typo-tolerant fuzzy_topk; ``vocab=2`` (r5) builds the
        depth-2 deletion neighborhood so fuzzy_topk(max_dist=2)
        works."""
        build_index(self.spark, docs_df, self.store.root, **kwargs)
        if positions:
            from ..index.positions import build_positions

            build_positions(
                self.spark, docs_df, self.store.root,
                text_is_extracted=kwargs.get("text_is_extracted", True),
                extract_mode=kwargs.get("extract_mode", "html"))
        if vocab:
            from ..index.vocab import build_vocab

            # vocab=True -> depth-1 neighborhood; vocab=2 -> depth-2
            # (enables fuzzy_topk(max_dist=2))
            build_vocab(
                self.spark, docs_df, self.store.root,
                text_is_extracted=kwargs.get("text_is_extracted", True),
                extract_mode=kwargs.get("extract_mode", "html"),
                depth=int(vocab))
        self._manifest = None
        self._cache.clear()
        return self

    @property
    def manifest(self) -> dict:
        """The live manifest. An out-of-band merge_append/compact_index
        replaces manifest.json atomically and GC's the old epoch's
        directories, so each access stats the file (~1 us) and re-reads
        it when it changed; on an epoch change _warm_new_epoch moves the
        cache to the new epoch. Queries read it once, through
        _snapshot."""
        try:
            st = os.stat(self.store.manifest_path)
            sig = (st.st_ino, st.st_mtime_ns)
        except FileNotFoundError:
            sig = None
        if self._manifest is None or sig != self._manifest_sig:
            old = self._manifest
            self._manifest = self.store.read_manifest()
            self._manifest_sig = sig
            if old is not None and int(old.get("epoch", -1)) != int(
                    self._manifest["epoch"]):
                self._warm_new_epoch(int(old["epoch"]))
        return self._manifest

    def _snapshot(self) -> Snapshot:
        """Snapshot of the live epoch: one stat of manifest.json, plus
        one listing of the tombstones directory when it exists."""
        m = self.manifest
        epoch = int(m["epoch"])
        return Snapshot(epoch, int(m["n_docs"]), float(m["avgdl"]),
                        float(m["k1"]), float(m["b"]), int(m["n_buckets"]),
                        m, self._tombstones(epoch))

    def _warm_new_epoch(self, old_epoch: int) -> None:
        """Epoch switch (out-of-band merge/compact): the old epoch's
        dirs are GC'd, so every entry of another epoch is dropped — and
        the terms that were HOT in the decoded cache are re-decoded from
        the new epoch eagerly. Without this, the first post-append query
        stream runs cold (~40x the steady-state p50) until the cache
        refills; head terms stay head terms across epochs, so the old
        working set is the right prefetch list."""
        hot = [key for e, kind, key in self._cache
               if e == old_epoch and kind == "dec"]
        snap = self._snapshot()
        self._cache.keep_epoch(snap.epoch)
        if hot:
            try:
                self._load_term_arrays(snap, hot)  # refill under the new epoch
            except OSError:
                pass  # warm-up is best-effort; queries reload lazily

    # ------------------------------------------------------------- query
    def query_batch(self, queries: list[dict], k: int = 10,
                    candidates: DataFrame | None = None) -> DataFrame:
        """Distributed exact BM25 for a batch of queries ->
        (query_id, rank, doc_id, score). ``candidates``: optional
        (doc_id) frame restricting the scored set (P7 filter)."""
        return score_query_batch(self.spark, self.store, queries, k=k,
                                 candidates=candidates)

    def query_batch_wand(self, queries: list[dict], k: int = 10,
                         candidates: DataFrame | None = None) -> DataFrame:
        """Distributed block-max WAND over the query batch (one WAND
        task per query; blocks stay encoded until the scorer needs
        them). ``candidates``: optional (doc_id) frame (P7 filter),
        cogrouped per salt range so block skipping survives broad
        filters. Rank-identical to query_batch."""
        return score_query_batch_wand(self.spark, self.store, queries, k=k,
                                      candidates=candidates)

    def boolean_batch(self, queries: list[tuple[int, str]],
                      k: int = 10) -> DataFrame:
        """Index-backed DISTRIBUTED boolean retrieval for a batch of
        AND/OR/NOT expressions -> (query_id, rank, doc_id, score).
        One pruned-postings pass + one shuffle for the whole batch; no
        corpus access, no driver-side postings (query/boolean.py
        score_boolean_batch). Rank-identical to boolean_topk."""
        from .boolean import score_boolean_batch

        return score_boolean_batch(self.spark, self.store, queries, k=k)

    def phrase_batch(self, phrases: list[tuple[int, str]],
                     docs_df: DataFrame, k: int = 10,
                     slop: int = 0) -> DataFrame:
        """Index-backed DISTRIBUTED phrase search for a batch ->
        (query_id, rank, doc_id, score). Candidates come from the index
        (conjunctive postings gate); ``docs_df`` is touched only to
        verify adjacency on candidates (query/phrase.py
        score_phrase_batch). Rank-identical to phrase_topk."""
        from .phrase import score_phrase_batch

        return score_phrase_batch(self.spark, self.store, docs_df,
                                  phrases, k=k, slop=slop)

    def _dataset(self, snap: Snapshot, table: str, bucket: int):
        """pyarrow dataset of one bucket of an epoch-scoped table
        (``postings``, ``term_stats``, ``positions`` or ``vocab``), opened
        once per epoch through the cache. None when the bucket directory
        does not exist at the live epoch. A directory missing because a
        merge replaced the snapshot's epoch mid-query raises instead of
        reading as an empty bucket."""
        key = (snap.epoch, table, bucket)
        dataset = self._cache.get(key)
        if dataset is None:
            base = getattr(self.store, f"{table}_dir_for")(snap.epoch)
            p = os.path.join(base, f"bucket={bucket}")
            if not os.path.isdir(p):
                live = self.store.epoch()
                if live != snap.epoch:
                    raise FileNotFoundError(
                        f"{p}: the query's snapshot is epoch {snap.epoch},"
                        f" but the index has moved to epoch {live}")
                return None
            dataset = ds.dataset(p, format="parquet")
            self._cache.put(key, dataset)
        return dataset

    def _load_term_blocks(self, snap: Snapshot, terms: list[str]
                          ) -> dict[str, tuple[int, list[dict]]]:
        """Driver-side pruned postings read: only the parquet partitions
        (bucket=<b> dirs) owning the query terms are touched, filtered
        on term_id. Returned dict is keyed by the term STRING so scorers
        sum contributions in term-ascending (oracle) order."""
        out: dict[str, tuple[int, list[dict]]] = {}
        missing = []
        for t in terms:
            hit = self._cache.get((snap.epoch, "blk", t))
            if hit is None:
                missing.append(t)
            elif hit[1]:  # a cached OOV term holds no blocks
                out[t] = hit
        if not missing:
            return out
        ids = {term_id_for(t): t for t in missing}
        buckets = sorted({bucket_of_term_id(i, snap.n_buckets) for i in ids})
        rows: list[dict] = []
        for b in buckets:
            dataset = self._dataset(snap, "postings", b)
            if dataset is None:
                continue
            tbl = dataset.to_table(filter=ds.field("term_id").isin(list(ids)),
                                   columns=_BLOCK_COLS)
            rows.extend(tbl.to_pylist())
        grouped: dict[str, list[dict]] = {}
        for row in rows:
            grouped.setdefault(ids[row["term_id"]], []).append(row)
        # v3 blocks are stats-free; on this path df needs no extra read:
        # df(term) == sum of block n over the term's (fully loaded)
        # blocks. (The distributed path uses the term_stats table
        # instead, where a head term is one row, not 10^6 block rows.)
        loaded: dict[str, tuple[int, list[dict]]] = {}
        for term, blocks in grouped.items():
            blocks.sort(key=lambda r: r["first_doc_id"])
            loaded[term] = (sum(blk["n"] for blk in blocks), blocks)
        for term in missing:  # cache misses too (empty = OOV term)
            entry = loaded.get(term, (0, []))
            self._cache.put((snap.epoch, "blk", term), entry, sum(
                len(r["docs_enc"]) + len(r["tfs_enc"]) + len(r["dls_enc"])
                for r in entry[1]))
        out.update(loaded)
        return out

    def _load_term_arrays(self, snap: Snapshot, terms: list[str]) -> dict:
        """Decoded per-term postings {term: (df, docs, tfs, dls)}, docs
        sorted ascending, through the cache; OOV terms are absent. The
        arrays are unmasked: scorers take pending tombstones as
        ``deleted`` (see Snapshot.bm25), so deletes keep the cache."""
        from ..codec import decode_blocks_batch

        out: dict = {}
        missing = []
        for t in terms:
            hit = self._cache.get((snap.epoch, "dec", t))
            if hit is not None:
                out[t] = hit
            else:
                missing.append(t)
        if missing:
            for t, (df_t, bl) in self._load_term_blocks(snap, missing).items():
                docs, tfs, dls, _ = decode_blocks_batch(bl)
                if (docs[1:] < docs[:-1]).any():
                    # segment runs of one term interleave in doc_id
                    order = np.argsort(docs, kind="stable")
                    docs, tfs, dls = docs[order], tfs[order], dls[order]
                entry = (df_t, docs, tfs, dls)
                out[t] = entry
                self._cache.put((snap.epoch, "dec", t), entry,
                                docs.nbytes + tfs.nbytes + dls.nbytes)
        return out

    def _term_dfs(self, snap: Snapshot, terms: list[str]) -> dict[str, int]:
        """df per term from the term_stats table, through the cache (OOV
        terms cache as 0). Misses read via pyarrow — O(query terms),
        never a Spark job, and a repeat term never re-opens a dataset."""
        out: dict[str, int] = {}
        missing = []
        for t in terms:
            v = self._cache.get((snap.epoch, "df", t))
            if v is not None:
                out[t] = v
            else:
                missing.append(t)
        if not missing:
            return out
        ids = {term_id_for(t): t for t in missing}
        by_bucket: dict[int, list[int]] = {}
        for tid in ids:
            by_bucket.setdefault(
                bucket_of_term_id(tid, snap.n_buckets), []).append(tid)
        for b, tids in by_bucket.items():
            dataset = self._dataset(snap, "term_stats", b)
            if dataset is None:
                continue
            tbl = dataset.to_table(
                filter=ds.field("term_id").isin(tids),
                columns=["term_id", "df"])
            for tid, dfv in zip(tbl["term_id"].to_pylist(),
                                tbl["df"].to_pylist()):
                out[ids[tid]] = int(dfv)
        for t in missing:
            out.setdefault(t, 0)
            self._cache.put((snap.epoch, "df", t), out[t])
        return out

    def _uncached_df_total(self, snap: Snapshot, terms: list[str]) -> int:
        """Σdf of the terms NOT already held by the cache — the postings
        volume a driver-side load would actually pull. Served from the
        cached df; a miss is one pyarrow term_stats read (O(query
        terms)), never a Spark job."""
        missing = [t for t in terms
                   if (snap.epoch, "dec", t) not in self._cache
                   and (snap.epoch, "blk", t) not in self._cache]
        if not missing:
            return 0
        return sum(self._term_dfs(snap, missing).values())

    def warm(self) -> int:
        """Touch every postings + term_stats file sequentially so the
        index sits in the OS page cache (production BM25 serving keeps
        the index memory-resident; cold random reads on this box run
        ~100x slower than warm). Returns bytes touched."""
        total = 0
        epoch = int(self.manifest["epoch"])
        for base in (self.store.postings_dir_for(epoch),
                     self.store.term_stats_dir_for(epoch)):
            for root, _, files in os.walk(base):
                for fn in files:
                    if fn.endswith(".parquet"):
                        p = os.path.join(root, fn)
                        with open(p, "rb") as f:
                            while chunk := f.read(1 << 22):
                                total += len(chunk)
        return total

    def _tombstones(self, epoch: int) -> np.ndarray:
        """Pending tombstones of ``epoch`` as a sorted int64 array
        (np.isin-ready). delete_urls appends a new file, so the cached
        array is keyed by the directory listing — queries between
        deletes never re-read the parquet."""
        d = self.store.tombstones_dir_for(epoch)
        try:
            names = sorted(os.listdir(d))
        except FileNotFoundError:
            return np.empty(0, dtype=np.int64)
        hit = self._cache.get((epoch, "tomb", None))
        if hit is not None and hit[0] == names:
            return hit[1]
        arr = np.unique(ds.dataset(d, format="parquet").to_table(
            columns=["doc_id"])["doc_id"].to_numpy(
            zero_copy_only=False).astype(np.int64))
        self._cache.put((epoch, "tomb", None), (names, arr), arr.nbytes)
        return arr

    def _driver_topk(self, snap: Snapshot, terms: list[str], k: int,
                     method: str, approx: float = 1.0,
                     allowed=None) -> list[tuple[int, float]]:
        """Driver top-k of an OR-bag: ``vectorized`` scores the cached
        decoded arrays, ``wand`` the encoded blocks with block-max
        skipping. ``allowed``: optional sorted doc_id array, the only
        docs ranked (search's selective filter)."""
        if method == "wand":
            blocks = self._load_term_blocks(snap, terms)
            return _TOPK_METHODS["wand"](
                blocks, k=k, allowed=allowed, approx=approx,
                **snap.bm25) if blocks else []
        from .wand import vectorized_topk_arrays

        arrays = self._load_term_arrays(snap, terms)
        return vectorized_topk_arrays(
            arrays, k=k, candidates=allowed, **snap.bm25) if arrays else []

    def _topk(self, snap: Snapshot, terms: list[str], k: int, method: str,
              approx: float = 1.0) -> list[tuple[int, float]]:
        """topk's body for sorted unique ``terms`` under ``snap``:
        queries whose uncached terms exceed the driver df budget run the
        distributed WAND plan (rank-identical; the per-salt-range tasks
        decode only their own stripes)."""
        if method not in _TOPK_METHODS:
            raise ValueError(f"unknown topk method: {method!r}")
        if not terms:
            return []
        if self._uncached_df_total(snap, terms) > self.driver_df_budget:
            self.driver_fallbacks += 1
            res = self.query_batch_wand(
                [{"query_id": 0, "text": " ".join(terms)}], k=k)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        return self._driver_topk(snap, terms, k, method, approx)

    def topk(self, query: str, k: int = 10, use_wand: bool | None = None,
             method: str = "vectorized",
             approx: float = 1.0) -> list[tuple[int, float]]:
        """Single-query top-k on the driver (low-latency path).
        Routes 'summarize ...' queries to the summary index when present.
        ``method="vectorized"`` scores the cached decoded postings,
        ``"wand"`` skips blocks on the encoded ones; both return the
        same ranking and scores (asserted in tests). ``use_wand`` is the
        older switch: True means "wand", False "vectorized". Pending
        deletes are masked per query on either path.
        ``approx`` > 1.0 (wand only) enables bounded-error early
        termination: skipped docs provably score < approx * the
        returned k-th score. Queries whose terms exceed the driver df
        budget run the EXACT distributed plan instead — ``approx`` is
        ignored there (early termination is a driver-path device)."""
        if use_wand is not None:  # back-compat boolean switch
            method = "wand" if use_wand else "vectorized"
        # argument validation BEFORE the budget fallback (ADVICE r4):
        # an invalid combination must raise identically whether or not
        # the query happens to exceed the driver budget
        if approx != 1.0 and method != "wand":
            raise ValueError("approx= requires method='wand'")
        engine, qtext = self._route(query)
        return engine._topk(engine._snapshot(), sorted(set(tokenize(qtext))),
                            k, method, approx)

    def weighted_topk(self, query: str, k: int = 10, *,
                      boosts: dict[str, float] | None = None,
                      msm: int = 1) -> list[tuple[int, float]]:
        """Boosted / minimum-should-match retrieval (the Lucene
        BooleanQuery analog the reference exposes through its vector-DB
        query options): ``query`` may carry per-clause ``term^2.5``
        boosts (analysis.parse_weighted_query); explicit ``boosts=``
        entries override parsed ones. score(doc) = sum of weighted BM25
        contributions; ``msm`` drops docs matching fewer than that many
        DISTINCT query terms before ranking (OOV terms can never match,
        so msm > in-vocabulary terms returns []). Budget-gated like
        topk(): over-budget queries run the exhaustive distributed plan
        (score_query_batch with boosts/msm — WAND bounds don't carry
        weights) with identical ranking."""
        from ..analysis import parse_weighted_query

        if msm < 1:
            raise ValueError("msm must be >= 1")
        engine, qtext = self._route(query)
        weights = parse_weighted_query(qtext)
        if boosts:
            for term, w in boosts.items():
                for t in tokenize(term):
                    weights[t] = float(w)
        terms = sorted(weights)
        if not terms:
            return []
        snap = engine._snapshot()
        if engine._uncached_df_total(snap, terms) > engine.driver_df_budget:
            engine.driver_fallbacks += 1
            res = score_query_batch(
                self.spark, engine.store,
                [{"query_id": 0, "text": " ".join(terms),
                  "boosts": weights, "msm": msm}], k=k)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        arrays = engine._load_term_arrays(snap, terms)
        if not arrays:
            return []
        from .wand import vectorized_topk_arrays

        return vectorized_topk_arrays(arrays, k=k, weights=weights, msm=msm,
                                      **snap.bm25)

    def topk_after(self, query: str, k: int = 10, *,
                   after: tuple[int, float] | None = None
                   ) -> list[tuple[int, float]]:
        """search_after pagination (the Lucene/ES cursor device):
        return the next ``k`` hits STRICTLY after the ``(doc_id,
        score)`` cursor — the last hit tuple of the previous page,
        passed AS-IS — in the
        global (round(score, 9) DESC, doc_id ASC) order. Stateless and
        rank-stable: page N+1 never re-ships page N, and a deep page
        costs the same as page 1 (no top-(N*k) window). ``after=None``
        is page 1 (== topk). Budget-gated like topk(); the distributed
        fallback pushes the cursor predicate below the top-k window."""
        if after is None:
            return self.topk(query, k)
        engine, qtext = self._route(query)
        terms = sorted(set(tokenize(qtext)))
        if not terms:
            return []
        snap = engine._snapshot()
        if engine._uncached_df_total(snap, terms) > engine.driver_df_budget:
            engine.driver_fallbacks += 1
            res = score_query_batch(self.spark, engine.store,
                                    [{"query_id": 0, "text": qtext}],
                                    k=k, after=after)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        from .wand import accumulate_scores, rank_topk

        uniq, scores = accumulate_scores(engine._load_term_arrays(snap, terms),
                                         **snap.bm25)
        key = np.round(scores, 9)
        a9 = round(float(after[1]), 9)
        keep = (key < a9) | ((key == a9) & (uniq > int(after[0])))
        return rank_topk(uniq[keep], scores[keep], k)

    def more_like_this(self, docs_df: DataFrame | None = None, *,
                       url: str | None = None, text: str | None = None,
                       max_terms: int = 10, k: int = 10,
                       method: str = "vectorized"
                       ) -> list[tuple[int, float]]:
        """Lucene MoreLikeThis analog: pick the source document's top
        ``max_terms`` terms by tf·idf — tf from ONE source row, idf
        from the index's term_stats (a driver-side metadata read, never
        a corpus pass) — and run the OR-bag through topk(), excluding
        the source doc itself. Source is either ``url`` (looked up in
        ``docs_df``, one filtered collect of one row) or raw ``text``
        (no exclusion unless ``url`` is also given for identity).
        Selection is deterministic: (tf·idf DESC, term ASC); OOV terms
        never qualify (df=0 ⇒ nothing to retrieve). Inherits topk()'s
        budget gate, so a stop-word-heavy source still can't decode
        O(corpus) postings on the driver."""
        from collections import Counter

        from ..analysis import doc_id_for_url, idf

        if text is None:
            if url is None or docs_df is None:
                raise ValueError(
                    "more_like_this needs text=, or url= with docs_df=")
            src_col = "url" if "url" in docs_df.columns else "doc_id"
            rows = (docs_df.where(F.col(src_col) == url)
                    .select("text").limit(1).collect())
            if not rows:
                raise ValueError(f"source doc not found: {url!r}")
            text = rows[0]["text"]
        tf = Counter(tokenize(text))
        if not tf:
            return []
        snap = self._snapshot()
        dfs = self._term_dfs(snap, sorted(tf))
        scored_terms = sorted(
            ((t, tf[t] * idf(snap.n_docs, dfs[t]))
             for t in tf if dfs.get(t, 0) > 0),
            key=lambda x: (-x[1], x[0]))
        sel = [t for t, _ in scored_terms[:max_terms]]
        if not sel:
            return []
        src_id = doc_id_for_url(url) if url is not None else None
        hits = self._topk(snap, sorted(sel), k + (src_id is not None), method)
        if src_id is not None:
            hits = [(d, s) for d, s in hits if d != src_id]
        return hits[:k]

    def _route(self, query: str) -> tuple["BM25Engine", str]:
        """Keyword analog of the reference's semantic RouteLayer
        (/root/reference/service/router.py:22-37): 'summarize' prefix ->
        summary index (if built), keyword stripped from the query."""
        toks = query.split()
        if toks and toks[0].lower().startswith("summar"):
            summary_dir = self.store.root + "summary"
            if os.path.exists(os.path.join(summary_dir, "manifest.json")):
                # one long-lived engine, so its cache serves repeats
                if self._summary is None:
                    self._summary = BM25Engine(self.spark, summary_dir)
                return self._summary, " ".join(toks[1:])
            return self, " ".join(toks[1:])
        return self, query

    # ------------------------------------------------------------- search
    def search(self, query: str, k: int = 10, *, method: str = "vectorized",
               docs_meta: DataFrame | None = None, where=None,
               exclude_fields: list[str] | None = None,
               driver_filter_max: int = 10_000,
               snippet_docs: DataFrame | None = None,
               snippet_width: int = 20,
               snippet_fragments: int = 1,
               snippet_mark: bool = False,
               qs: bool = False,
               qs_max_expansions: int = 50) -> DataFrame:
        """Full query lifecycle (SURVEY.md §3.2): route -> retrieve ->
        filter -> materialize -> project.

        - ``where`` + ``docs_meta``: metadata filter (P7) applied as an
          exact candidate restriction BEFORE scoring, like the reference
          pushes filters into the vector DB. ``where`` is a Spark Column
          or a Qdrant-style dict (/root/reference/models/query.py:7-21),
          compiled by filters.to_column. ``docs_meta`` defaults to the
          index's OWN doc_stats — an index built with
          ``meta_cols=('warc_ts', 'lang')`` filters on those columns
          with no caller-side corpus table at all (r5).
        - Selective filters (<= ``driver_filter_max`` candidates) ride
          the low-latency driver path; broad filters go through the
          distributed semi-join plan (score_query_batch(candidates=)),
          so the driver NEVER materializes an unbounded doc_id set —
          a 100x corpus with ``lang='en'`` stays a Spark-side join.
        - result rows are materialized against doc_stats (url) and
          optionally ``docs_meta`` (J-joins in SURVEY.md §2.3).
        - ``exclude_fields``: P8 projection
          (/root/reference/api/query.py:12-16).
        - ``snippet_docs`` (r4): pass the source corpus to attach a
          best-window excerpt per hit (query/snippet.py; n_matches +
          snippet columns; hits whose doc lacks every query term get
          null columns). ``snippet_fragments`` > 1 / ``snippet_mark``
          (r5) switch to the multi-fragment <em>-marked ES-highlight
          form — each hit then carries up to that many rows'
          fragments joined as one " ... "-separated string.
        - ``qs=True`` (r5): ``query`` is Lucene query-string syntax
          (query/qstring.py grammar) — the full retrieval DSL under
          the SAME filter/materialize/snippet lifecycle, the ES
          query-string-plus-filter-context request shape. A selective
          filter intersects the tree's candidates on the driver; a
          broad one semi-joins them distributed. ``method`` is
          ignored (the weighted scorer ranks); phrase leaves need
          the positional sidecar; snippets highlight the tree's
          scoring-bag terms.
        Returns a DataFrame (rank, doc_id, score, url, *meta
        [, n_matches, snippet]).
        """
        if method not in _TOPK_METHODS:
            raise ValueError(f"unknown topk method: {method!r}")
        cand_df: DataFrame | None = None
        allowed = None  # small-set fast path: sorted int64 array
        if where is not None:
            if docs_meta is None:
                docs_meta = self.store.doc_stats(self.spark)
            from ..filters import to_column

            cand_df = docs_meta.where(to_column(where)).select("doc_id")
            # one probe job: fetch at most max+1 ids; a short result IS
            # the candidate set (no second scan), a full one proves the
            # filter is broad -> distributed plan
            probe = cand_df.limit(driver_filter_max + 1).collect()
            if len(probe) <= driver_filter_max:
                allowed = np.unique(np.array(
                    [r["doc_id"] for r in probe], dtype=np.int64))
                cand_df = None
        qs_bag: dict[str, float] = {}
        if qs:
            # NO summary routing for the structured DSL: the 'summarize'
            # keyword-strip would eat a legitimate leading term/prefix
            # ('summary AND report' -> 'AND report', a parse error)
            engine, qtext = self, query
            hits, qs_bag = engine._query_string_hits(
                engine._snapshot(), qtext, k, qs_max_expansions, cand_df,
                allowed)
            terms = []
        else:
            engine, qtext = self._route(query)
            terms = sorted(set(tokenize(qtext)))
            hits = []
        if terms and cand_df is not None:
            # distributed path: candidate semi-join BEFORE scoring, then
            # global top-k — identical ranking to the driver path (the
            # contribution exprs mirror bm25_term_score bit-for-bit).
            # method="wand" keeps block skipping under the broad filter
            # (per-salt-range candidate cogroup, scoring.py)
            scorer = (score_query_batch_wand if method == "wand"
                      else score_query_batch)
            res = scorer(self.spark, engine.store,
                         [{"query_id": 0, "text": qtext}], k=k,
                         candidates=cand_df)
            hits = [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        elif terms and allowed is None:
            # unfiltered: same path as topk() (incl. the decoded cache)
            hits = engine._topk(engine._snapshot(), terms, k, method)
        elif terms:
            hits = engine._driver_topk(engine._snapshot(), terms, k, method,
                                       allowed=allowed)
        out = self.spark.createDataFrame(
            [(i + 1, d, float(s)) for i, (d, s) in enumerate(hits)],
            "rank int, doc_id long, score double")
        out = out.join(engine.store.doc_stats(self.spark).select("doc_id", "url"),
                       "doc_id", "left")
        if docs_meta is not None:
            # doc_stats-backed meta (r5) carries url/dl the result
            # already has — drop the overlap so the join never forks
            # duplicate column names
            dup = [c for c in docs_meta.columns
                   if c != "doc_id" and c in out.columns]
            out = out.join(docs_meta.drop(*dup), "doc_id", "left")
        # P3: drop whitespace-only content if present
        if "content" in out.columns:
            out = out.where(F.trim(F.col("content")) != "")
        if exclude_fields:
            out = out.drop(*exclude_fields)
        if snippet_docs is not None:
            from .snippet import snippets

            snip = snippets(
                snippet_docs,
                out.select(F.lit(0).alias("query_id"), "doc_id"),
                [(0, " ".join(sorted(qs_bag)) if qs else qtext)],
                width=snippet_width,
                n_fragments=snippet_fragments,
                mark=snippet_mark).drop("query_id")
            if snippet_fragments > 1:
                # one row per hit: fragments join in rank order
                snip = (snip.groupBy("doc_id")
                        .agg(F.max("n_matches").alias("n_matches"),
                             F.array_join(
                                 F.transform(
                                     F.sort_array(F.collect_list(
                                         F.struct("fragment", "snippet"))),
                                     lambda x: x["snippet"]),
                                 " ... ").alias("snippet")))
            out = out.join(snip, "doc_id", "left")
        return out.orderBy("rank")

    # ------------------------------------------------------------- phrase
    def phrase_topk(self, phrase: str, docs_df: DataFrame | None = None,
                    k: int = 10, slop: int = 0) -> list[tuple[int, float]]:
        """Index-accelerated phrase search.

        Candidates come from the INVERTED INDEX: the decoded postings of
        the phrase's terms intersect rarest-first (conjunction — the
        only docs that can contain the phrase), so no corpus scan ever
        happens. Adjacency (or ``slop``-bounded proximity) is then
        verified either against ``docs_df`` — the source-of-truth
        (url|doc_id, text) table (match-then-verify, the default
        index carries no positions) — or, with ``docs_df=None`` and a
        positional sidecar present (r4, index/positions.py), against
        the stored position runs: fully INDEX-ONLY, no corpus access.
        Survivors are BM25-ranked over the phrase's terms with GLOBAL
        corpus stats, exactly like query/phrase.phrase_topk's DataFrame
        path (equality asserted in tests)."""
        from .phrase import joined_tokens_expr, phrase_pattern, plan_barrier
        from .wand import vectorized_topk_arrays

        terms = tokenize(phrase)
        if not terms:
            return []
        snap = self._snapshot()
        if docs_df is None and not self.store.has_positions(snap.epoch):
            raise ValueError(
                "phrase_topk without docs_df needs the positional sidecar"
                " — build with positions=True / run build_positions, or"
                " pass the source corpus for match-then-verify")
        uterms = sorted(set(terms))
        if self._uncached_df_total(snap, uterms) > self.driver_df_budget:
            # a stop-word in the phrase would decode O(df) postings on
            # the driver; run the index-backed distributed plan instead
            self.driver_fallbacks += 1
            from .phrase import score_phrase_batch

            res = score_phrase_batch(self.spark, self.store, docs_df,
                                     [(0, phrase)], k=k, slop=slop)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        arrays = self._load_term_arrays(snap, uterms)
        if len(arrays) < len(uterms):
            return []  # some phrase term has no postings at all
        by_rarity = sorted(uterms, key=lambda t: len(arrays[t][1]))
        cand = arrays[by_rarity[0]][1]
        for t in by_rarity[1:]:
            cand = cand[np.isin(cand, arrays[t][1], assume_unique=True)]
            if not len(cand):
                return []

        if docs_df is None:
            # index-only verify against the positional sidecar: no
            # Spark job, no corpus. LAZY, score-ordered: rank ALL
            # candidates by BM25 first (scores need no verify), then
            # chain-verify in descending-score batches and stop as soon
            # as k survive. Position runs load per TERM through the
            # cache (doc ids are content hashes, so batches have no
            # block locality — the first touch of a term pays its full
            # sidecar read, repeats are in-memory); the batching bounds
            # the chain_match work, not the I/O
            from .wand import accumulate_scores

            uniqc, sc = accumulate_scores(arrays, candidates=cand,
                                          **snap.bm25)
            order = np.lexsort((uniqc, -np.round(sc, 9)))
            rd, rs = uniqc[order], sc[order]
            out: list[tuple[int, float]] = []
            step = max(4 * k, 64)
            for i in range(0, len(rd), step):
                batch = np.sort(rd[i:i + step])
                ver = set(self._verify_positions_driver(
                    snap, terms, batch, slop).tolist())
                out.extend((int(d), float(s))
                           for d, s in zip(rd[i:i + step].tolist(),
                                           rs[i:i + step].tolist())
                           if int(d) in ver)
                if len(out) >= k:
                    break
            return out[:k]
        else:
            src = docs_df
            if "doc_id" not in src.columns:
                src = src.withColumn("doc_id", doc_id_expr("url"))
            cdf = self.spark.createDataFrame(
                [(int(d),) for d in cand.tolist()], "doc_id long")
            # plan_barrier: without it Catalyst substitutes jt into the
            # contains/rlike filter and pushes it BELOW the broadcast
            # join — re-tokenizing the whole corpus (see phrase.py)
            jt = (src.join(F.broadcast(cdf), "doc_id")
                  .select("doc_id",
                          plan_barrier(joined_tokens_expr("text"))
                          .alias("jt")))
            pat = phrase_pattern(terms, slop)
            matcher = (F.col("jt").contains(pat) if slop == 0
                       else F.col("jt").rlike(pat))
            # np.unique, not sorted(): duplicate doc_id rows in docs_df
            # (a url ingested twice) must not break the sorted-UNIQUE
            # contract of vectorized_topk_arrays' assume_unique isin
            verified = np.unique(np.array(
                [r["doc_id"] for r in
                 jt.where(matcher).select("doc_id").collect()],
                dtype=np.int64))
        if not len(verified):
            return []
        return vectorized_topk_arrays(arrays, k=k, candidates=verified,
                                      **snap.bm25)

    def _load_positions_term(self, snap: Snapshot, term: str):
        """Decoded position run of one term through the cache:
        (docs sorted array, off, flat) with doc i's positions =
        flat[off[i]:off[i+1]], or None for a term with no positions.
        Like decoded postings, the first touch of a term pays
        the parquet read + varint decode; repeats are in-memory (phrase
        streams repeat their vocabulary just like BM25 streams do —
        doc ids are content hashes, so block ranges carry no candidate
        locality and partial reads don't pay off)."""
        from ..codec import decode_positions_block

        key = (snap.epoch, "pos", term)
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        tid = term_id_for(term)
        dataset = self._dataset(snap, "positions",
                                bucket_of_term_id(tid, snap.n_buckets))
        if dataset is None:
            return None
        tbl = dataset.to_table(
            filter=ds.field("term_id") == tid,
            columns=["block_id", "n", "first_doc_id",
                     "docs_enc", "cnt_enc", "pos_enc"])
        if not tbl.num_rows:
            return None
        rows = sorted(tbl.to_pylist(), key=lambda r: r["first_doc_id"])
        dchunks, cchunks, fchunks = [], [], []
        for row in rows:
            docs, counts, flat = decode_positions_block(
                row["docs_enc"], row["cnt_enc"], row["pos_enc"],
                int(row["n"]))
            dchunks.append(docs)
            cchunks.append(counts)
            fchunks.append(flat)
        docs = np.concatenate(dchunks)
        counts = np.concatenate(cchunks)
        flat = np.concatenate(fchunks)
        if len(docs) > 1 and (docs[1:] < docs[:-1]).any():
            # r5: after a segment-carried merge a term's position blocks
            # live in multiple FILES whose doc ranges may interleave
            # (staging-linked "segment" files next to the base), so the
            # block-sorted concatenation is no longer globally sorted —
            # restore the sorted-docs invariant searchsorted relies on.
            # A doc appears at most once per term (one segment per term
            # per doc), so a stable permutation is enough.
            off0 = np.concatenate(([0], np.cumsum(counts)))
            order = np.argsort(docs, kind="stable")
            flat = np.concatenate(
                [flat[off0[i]:off0[i + 1]] for i in order.tolist()]
            ) if len(flat) else flat
            docs = docs[order]
            counts = counts[order]
        off = np.concatenate(([0], np.cumsum(counts)))
        entry = (docs, off, flat)
        self._cache.put(key, entry, docs.nbytes + off.nbytes + flat.nbytes)
        return entry

    def _verify_positions_driver(self, snap: Snapshot, terms: list[str],
                                 cand, slop: int):
        """Chain-verify the phrase against the positional sidecar for
        the candidate docs (sorted unique int64 array); position runs
        come from the cache (no Spark job). Returns the verified
        sorted-unique doc_id array."""
        from ..index.positions import chain_match

        per: dict[str, tuple] = {}
        for t in set(terms):
            ent = self._load_positions_term(snap, t)
            if ent is None:
                return np.empty(0, dtype=np.int64)
            per[t] = ent
        # per term: locate every candidate in the term's doc run once
        # (vectorized searchsorted); a miss anywhere kills the doc
        locs: dict[str, np.ndarray] = {}
        alive = np.ones(len(cand), dtype=bool)
        for t, (docs, off, flat) in per.items():
            i = np.searchsorted(docs, cand)
            ok = (i < len(docs))
            ok[ok] = docs[i[ok]] == cand[ok]
            alive &= ok
            locs[t] = i
        out = []
        for j in np.flatnonzero(alive).tolist():
            pos_lists = []
            for t in terms:
                docs, off, flat = per[t]
                i = int(locs[t][j])
                pos_lists.append(flat[off[i]:off[i + 1]])
            if chain_match(pos_lists, slop):
                out.append(int(cand[j]))
        return np.array(out, dtype=np.int64)

    # ------------------------------------------------------------ boolean
    def boolean_topk(self, expr: str, k: int = 10) -> list[tuple[int, float]]:
        """Boolean retrieval on the driver: left-associative AND/OR/NOT
        set algebra over decoded postings (query/boolean.py grammar),
        BM25-ranked over the positive terms with global stats. NOT terms
        subtract, never score. Needs no corpus access — pure index."""
        from .boolean import parse_boolean
        from .wand import vectorized_topk_arrays

        steps = parse_boolean(expr)
        all_terms = sorted({t for _, t in steps})
        snap = self._snapshot()
        if self._uncached_df_total(snap, all_terms) > self.driver_df_budget:
            # 'OR the' loads O(df) postings driver-side; run the
            # index-backed distributed set algebra instead
            self.driver_fallbacks += 1
            res = self.boolean_batch([(0, expr)], k=k)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        arrays = self._load_term_arrays(snap, all_terms)

        empty = np.empty(0, dtype=np.int64)

        def leaf(t: str):
            return arrays[t][1] if t in arrays else empty

        cand = leaf(steps[0][1])
        for op, t in steps[1:]:
            if op == "AND":
                cand = np.intersect1d(cand, leaf(t), assume_unique=True)
            elif op == "OR":
                cand = np.union1d(cand, leaf(t))
            else:  # NOT
                cand = np.setdiff1d(cand, leaf(t), assume_unique=True)
        if not len(cand):
            return []
        positive = {t: arrays[t]
                    for op, t in steps if op != "NOT" and t in arrays}
        return vectorized_topk_arrays(positive, k=k, candidates=cand,
                                      **snap.bm25)

    # -------------------------------------------------------------- fuzzy
    def _vocab_matches(self, snap: Snapshot, term: str,
                       max_dist: int) -> dict[str, tuple[int, int]]:
        """``{vocab term: (edit distance, df)}`` for every vocabulary
        term within ``max_dist`` edits of ``term``: a SymSpell lookup
        reading the sidecar rows whose variant is one of the term's
        deletion variants (bucket-dir + variant pruned, pyarrow — no
        Spark job), levenshtein-verified.

        ``max_dist`` must not exceed the sidecar's deletion-
        neighborhood depth (1 unless built with vocab=2 /
        build_vocab(depth=2)): a wider radius would silently
        under-recall — candidates at distance d that share no
        depth-d variant are never joined. Raising here (ADVICE r4)
        beats returning a quietly incomplete answer."""
        from ..index.vocab import (deletion_neighborhood, levenshtein,
                                   vocab_depth)

        depth = self._cache.get((snap.epoch, "vdepth", None))
        if depth is None:  # marker file read once per epoch
            depth = vocab_depth(self.store, snap.epoch)
            self._cache.put((snap.epoch, "vdepth", None), depth)
        if max_dist > depth:
            raise ValueError(
                f"max_dist={max_dist} exceeds the vocabulary sidecar's "
                f"deletion-neighborhood depth {depth} — rebuild with "
                f"vocab={max_dist} / build_vocab(depth={max_dist})")
        by_bucket: dict[int, list[str]] = {}
        for v in deletion_neighborhood(term, max(max_dist, 1)):
            b = bucket_of_term_id(term_id_for(v), snap.n_buckets)
            by_bucket.setdefault(b, []).append(v)
        found: dict[str, tuple[int, int]] = {}
        for bkt, vs in by_bucket.items():
            dataset = self._dataset(snap, "vocab", bkt)
            if dataset is None:
                continue
            tbl = dataset.to_table(filter=ds.field("variant").isin(vs),
                                   columns=["term", "df"])
            for cand, df_c in zip(tbl["term"].to_pylist(),
                                  tbl["df"].to_pylist()):
                if cand not in found:
                    dist = levenshtein(term, cand)
                    if dist <= max_dist:
                        found[cand] = (dist, int(df_c))
        return found

    def _correct_term(self, snap: Snapshot, term: str,
                      max_dist: int = 1) -> str | None:
        """Did-you-mean: the (distance, df DESC, term) best vocabulary
        term within ``max_dist`` edits (see _vocab_matches), or None.
        An in-vocab term returns itself (distance 0 always wins)."""
        found = self._vocab_matches(snap, term, max_dist)
        if not found:
            return None
        return min(found, key=lambda t: (found[t][0], -found[t][1], t))

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Prefix autocomplete on the driver: top-k vocabulary terms
        starting with ``prefix``, by (df DESC, term) — pyarrow scan of
        the sidecar's identity rows, no Spark job. Needs vocab=True."""
        snap = self._snapshot()
        if not self.store.has_vocab(snap.epoch):
            raise ValueError(
                "suggest needs the vocabulary sidecar — build with"
                " vocab=True / run build_vocab")
        matches: list[tuple[str, int]] = []
        for name in sorted(os.listdir(self.store.vocab_dir_for(snap.epoch))):
            if not name.startswith("bucket="):
                continue
            dataset = self._dataset(snap, "vocab", int(name.split("=")[1]))
            tbl = dataset.to_table(
                filter=((ds.field("variant") == ds.field("term"))
                        & (ds.field("term") >= prefix)
                        & (ds.field("term") < prefix + "\U0010FFFF")),
                columns=["term", "df"])
            matches.extend(
                (t, int(d)) for t, d in zip(tbl["term"].to_pylist(),
                                            tbl["df"].to_pylist())
                if t.startswith(prefix))
        matches.sort(key=lambda x: (-x[1], x[0]))
        return matches[:k]

    def fuzzy_topk(self, query: str, k: int = 10, max_dist: int = 1,
                   method: str = "vectorized") -> list[tuple[int, float]]:
        """Typo-tolerant top-k: every query term is corrected to its
        nearest vocabulary term within ``max_dist`` edits (SymSpell
        deletion-neighborhood against the vocab sidecar; in-vocab terms
        pass through at distance 0; uncorrectable terms drop), then the
        corrected terms run the normal BM25 path. Needs an index built
        with ``vocab=True``. ``max_dist`` is capped at the sidecar's
        deletion-neighborhood depth (1 for vocab=True, 2 for vocab=2 —
        _vocab_matches raises above it)."""
        snap = self._snapshot()
        if not self.store.has_vocab(snap.epoch):
            raise ValueError(
                "fuzzy_topk needs the vocabulary sidecar — build with"
                " vocab=True / run build_vocab")
        terms = sorted(set(tokenize(query)))
        corrected = sorted({c for t in terms
                            if (c := self._correct_term(snap, t, max_dist))})
        return self._topk(snap, corrected, k, method)

    def prefix_topk(self, prefix: str, k: int = 10,
                    max_expansions: int = 50,
                    method: str = "vectorized") -> list[tuple[int, float]]:
        """Wildcard retrieval ('pre*'): expand the prefix against the
        vocabulary sidecar — the ``max_expansions`` HIGHEST-df matches,
        (df DESC, term) deterministic, the same cap Lucene's
        MultiTermQuery uses so a short prefix over a web-scale vocab
        cannot explode into millions of terms — then run the expanded
        OR-bag through the normal BM25 path (each expansion scored with
        its own idf, so rare expansions rank their docs higher; the
        driver-df-budget fallback applies as for any multi-term query).
        Needs an index built with ``vocab=True``.

        Reference analog: super-rag has no sparse wildcard (dense
        embeddings subsume it); this is Lucene PrefixQuery re-expressed
        over the sidecar + existing scorer."""
        if not prefix:
            raise ValueError("prefix_topk needs a non-empty prefix")
        expansions = [t for t, _ in self.suggest(prefix, k=max_expansions)]
        if not expansions:
            return []
        return self.topk(" ".join(sorted(expansions)), k, method=method)

    def fuzzy_expansions(self, term: str, max_dist: int = 1,
                         max_expansions: int = 50) -> list[str]:
        """ALL vocabulary terms within ``max_dist`` edits of ``term``
        (the Lucene FuzzyQuery expansion set — _correct_term keeps only
        the best ONE for did-you-mean), deterministic (df DESC, term)
        and capped at ``max_expansions`` like every MultiTermQuery
        rewrite here. Same lookup as _correct_term (_vocab_matches),
        bounded by the sidecar's neighborhood depth the same way."""
        found = self._vocab_matches(self._snapshot(), term, max_dist)
        return sorted(found, key=lambda t: (-found[t][1], t))[:max_expansions]

    # ------------------------------------------------- query string DSL
    def query_string_topk(self, query: str, k: int = 10, *,
                          docs_df: DataFrame | None = None,
                          max_expansions: int = 50
                          ) -> list[tuple[int, float]]:
        """Lucene query-string search (query/qstring.py grammar):
        parentheses, AND/OR/NOT precedence, quoted phrases with
        ``~slop``, per-clause ``^boost``, trailing-* prefix, mid-term
        wildcard and ``term~d`` fuzzy leaves — compiled onto the
        index's own primitives. Candidates evaluate as set algebra
        over the tree; scoring is weighted BM25 over the positive
        leaves restricted to the candidates (GLOBAL stats, the
        filtered-search convention).

        Phrase leaves verify against ``docs_df`` (match-then-verify) or
        the positional sidecar when ``docs_df=None``; prefix/fuzzy/
        wildcard leaves need the vocabulary sidecar. Budget-gated like
        every driver path: over-budget trees run the distributed
        step-bitmask plan (qstring.accepted_docs_df) +
        score_query_batch, rank-identically (tests assert). The body
        is _query_string_hits — search(qs=True) runs the same code
        under the metadata-filter lifecycle."""
        hits, _ = self._query_string_hits(self._snapshot(), query, k,
                                          max_expansions, None, None,
                                          docs_df=docs_df)
        return hits

    def _query_string_hits(self, snap: Snapshot, qtext: str, k: int,
                           max_expansions: int, cand_df: DataFrame | None,
                           allowed, docs_df: DataFrame | None = None):
        """query-string retrieval — the shared body of
        query_string_topk AND search(qs=True), under an OPTIONAL
        metadata-filter candidate restriction. ``cand_df`` (broad
        filter): the tree's accepted set semi-joins the filter
        candidates and scoring runs distributed. ``allowed`` (selective
        filter, sorted int64 array): intersected on the driver path,
        broadcast-semi-joined on the distributed one. ``docs_df``:
        source corpus for phrase match-then-verify (None = positional
        sidecar). Returns (hits, scoring_bag) — the bag feeds snippet
        highlighting."""
        from . import qstring
        from .wand import vectorized_topk_arrays

        node = qstring.parse_query_string(qtext)
        node = qstring.expand_leaves(self, node, max_expansions)
        if (qstring.phrase_leaves(node) and docs_df is None
                and not self.store.has_positions(snap.epoch)):
            raise ValueError(
                "phrase clauses need docs_df or the positional sidecar"
                " — build with positions=True / run build_positions")
        bag = qstring.scoring_bag(node)
        if not bag:
            return [], bag
        allt = sorted(qstring.referenced_terms(node))
        if allowed is not None and not len(allowed):
            return [], bag  # selective filter matched nothing
        if (cand_df is not None
                or self._uncached_df_total(snap, allt) > self.driver_df_budget):
            self.driver_fallbacks += 1
            cands = qstring.accepted_docs_df(self.spark, self.store, node,
                                             docs_df)
            if cand_df is not None:
                cands = cands.join(cand_df.select("doc_id"), "doc_id",
                                   "left_semi")
            if allowed is not None:
                # a SELECTIVE filter must bind on the distributed path
                # too (over-budget terms do not waive it): the small
                # allowed set broadcasts into the semi-join
                adf = self.spark.createDataFrame(
                    [(int(d),) for d in allowed.tolist()], "doc_id long")
                cands = cands.join(F.broadcast(adf), "doc_id", "left_semi")
            res = score_query_batch(
                self.spark, self.store,
                [{"query_id": 0, "text": " ".join(sorted(bag)),
                  "boosts": bag}], k=k, candidates=cands)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()], bag
        arrays = self._load_term_arrays(snap, allt)
        cand = self._eval_qstring_driver(snap, node, arrays, docs_df)
        if allowed is not None and len(cand):
            cand = np.intersect1d(cand, allowed, assume_unique=True)
        if not len(cand):
            return [], bag
        bag_arrays = {t: arrays[t] for t in bag if t in arrays}
        return vectorized_topk_arrays(bag_arrays, k=k, weights=bag,
                                      candidates=cand, **snap.bm25), bag

    def _eval_qstring_driver(self, snap: Snapshot, node, arrays, docs_df):
        """Candidate doc-id set of an (expanded) qstring tree on the
        driver: numpy set algebra over decoded postings, phrase leaves
        verified in full (positions sidecar or candidate-semi-joined
        corpus scan). Returns a sorted unique int64 array."""
        from . import qstring

        empty = np.empty(0, dtype=np.int64)

        def docs_of(t):
            return arrays[t][1] if t in arrays else empty

        def ev(n):
            if isinstance(n, qstring.Term):
                return docs_of(n.text)
            if isinstance(n, (qstring.Prefix, qstring.Wildcard,
                              qstring.Fuzzy)):
                exps = n.expansions or ()
                if not exps:
                    return empty
                return np.unique(np.concatenate(
                    [docs_of(t) for t in exps] or [empty]))
            if isinstance(n, qstring.Phrase):
                uts = sorted(set(n.terms))
                if any(t not in arrays for t in uts):
                    return empty
                by_rarity = sorted(uts, key=lambda t: len(arrays[t][1]))
                cand = arrays[by_rarity[0]][1]
                for t in by_rarity[1:]:
                    cand = cand[np.isin(cand, arrays[t][1],
                                        assume_unique=True)]
                    if not len(cand):
                        return empty
                return self._phrase_verified_driver(
                    snap, n.terms, cand, n.slop, docs_df)
            if isinstance(n, qstring.And):
                pos = [c for c in n.children
                       if not isinstance(c, qstring.Not)]
                neg = [c for c in n.children if isinstance(c, qstring.Not)]
                out = ev(pos[0])
                for c in pos[1:]:
                    if not len(out):
                        return empty
                    out = np.intersect1d(out, ev(c), assume_unique=True)
                for c in neg:
                    if not len(out):
                        return empty
                    out = np.setdiff1d(out, ev(c.child), assume_unique=True)
                return out
            if isinstance(n, qstring.Or):
                parts = [ev(c) for c in n.children]
                return np.unique(np.concatenate(parts)) if parts else empty
            raise TypeError(type(n).__name__)

        return ev(node)

    def _phrase_verified_driver(self, snap: Snapshot, terms, cand, slop,
                                docs_df):
        """FULL phrase verify of a conjunctive candidate array (set
        composition needs every survivor, unlike phrase_topk's lazy
        score-ordered verify): positions sidecar when ``docs_df`` is
        None, else the candidate-semi-joined corpus scan with the
        plan_barrier (phrase.py's r5 join-order rule). Returns a sorted
        unique int64 array."""
        from .phrase import (joined_tokens_expr, phrase_pattern,
                             plan_barrier)

        if docs_df is None:
            ver = self._verify_positions_driver(snap, terms, np.sort(cand),
                                                slop)
            return np.unique(np.asarray(ver, dtype=np.int64))
        src = docs_df
        if "doc_id" not in src.columns:
            src = src.withColumn("doc_id", doc_id_expr("url"))
        cdf = self.spark.createDataFrame(
            [(int(d),) for d in cand.tolist()], "doc_id long")
        jt = (src.join(F.broadcast(cdf), "doc_id")
              .select("doc_id",
                      plan_barrier(joined_tokens_expr("text")).alias("jt")))
        pat = phrase_pattern(terms, slop)
        matcher = (F.col("jt").contains(pat) if slop == 0
                   else F.col("jt").rlike(pat))
        return np.unique(np.array(
            [r["doc_id"] for r in
             jt.where(matcher).select("doc_id").collect()],
            dtype=np.int64))

    # ------------------------------------------------------------- facets
    def facet_counts(self, query: str, by: str = "host", top: int = 20,
                     boolean: bool = False, granularity: str | None = None):
        """Facet counts over the FULL match set of ``query`` (not just
        top-k): ``by='host'`` buckets by the url's origin from
        doc_stats, any other value names a doc_stats column. A plain
        query faces as the OR-bag of its terms; ``boolean=True`` treats
        ``query`` as an AND/OR/NOT chain (query/boolean.py grammar).
        Runs the index-backed distributed plan — facets aggregate every
        matching doc, so there is no driver fast path to prefer.
        Returns a DataFrame (facet, n_docs), (n_docs DESC, facet)."""
        from .facets import facet_counts as _fc

        if boolean:
            expr = query
        else:
            terms = sorted(set(tokenize(query)))
            if not terms:
                raise ValueError("facet_counts needs at least one term")
            expr = " OR ".join(terms)
        return _fc(self.spark, self.store, expr, by=by, top=top,
                   granularity=granularity)

    def facet_stats(self, query: str, val_col: str, by: str = "host",
                    top: int = 20, boolean: bool = False,
                    granularity: str | None = None):
        """ES metric aggregation inside facet buckets: per-facet
        numeric stats (n/min/max/avg/sum) of a doc_stats column over
        the FULL match set — see query/facets.facet_stats. Same query
        grammar as facet_counts."""
        from .facets import facet_stats as _fs

        if boolean:
            expr = query
        else:
            terms = sorted(set(tokenize(query)))
            if not terms:
                raise ValueError("facet_stats needs at least one term")
            expr = " OR ".join(terms)
        return _fs(self.spark, self.store, expr, val_col, by=by, top=top,
                   granularity=granularity)

    def match_count(self, query: str, *, boolean: bool = False) -> int:
        """The ES ``_count`` endpoint: how many docs match, no ranking
        — a plain query counts its OR-bag, ``boolean=True`` counts an
        AND/OR/NOT chain (query/boolean.py grammar). Runs the
        index-backed distributed match-set plan (one pruned-postings
        pass + one shuffle + a count; no corpus access, no top-k
        window, nothing collected but the number)."""
        from .boolean import accepted_docs

        if boolean:
            expr = query
        else:
            terms = sorted(set(tokenize(query)))
            if not terms:
                raise ValueError("match_count needs at least one term")
            expr = " OR ".join(terms)
        return (accepted_docs(self.spark, self.store, [(0, expr)])
                .select("doc_id").distinct().count())

    def sorted_topk(self, query: str, by: str, k: int = 10, *,
                    ascending: bool = False, boolean: bool = False):
        """Sort-by-field retrieval (the ES ``sort`` clause): top-k of
        the FULL match set ordered by a doc_stats key — 'host', 'dl',
        or any meta_cols column — instead of relevance ("newest
        matching pages" over a meta_cols crawl timestamp). Same query
        grammar as facet_counts; runs the index-backed distributed
        plan (a field sort reorders the whole match set, so there is
        no rank-safe driver shortcut — see facets.sort_topk for the
        TakeOrdered shape). Returns a DataFrame (rank, doc_id, url,
        sort_value)."""
        from .facets import sort_topk as _st

        if boolean:
            expr = query
        else:
            terms = sorted(set(tokenize(query)))
            if not terms:
                raise ValueError("sorted_topk needs at least one term")
            expr = " OR ".join(terms)
        return _st(self.spark, self.store, expr, by, k=k,
                   ascending=ascending)

    # ------------------------------------------------- collapse / recency
    def collapsed_topk(self, query: str, k: int = 10, *,
                       by: str = "host", per_key: int = 1) -> DataFrame:
        """Field-collapsed top-k (Lucene/ES collapse): at most ONE hit
        — the best-scoring doc — per value of the doc_stats facet
        ``by`` ('host' derives from the url; anything else names a
        meta_cols column), then the usual global top-k over the
        collapsed winners. The result-diversity device every web
        search ships (one result per site).

        Scale shape: collapse REORDERS nothing until the whole match
        set is grouped, so there is no driver fast path to prefer —
        this runs scored_matches (one shuffle), joins the facet key
        from doc_stats on doc_id (match-set-sized left side), and
        stacks two windows: per-(query, key) best, then per-query
        top-k — both WindowGroupLimit-prunable.

        ``per_key`` > 1 keeps the best N hits per key instead of one —
        the ES collapse inner_hits shape (site-diversified results
        with a couple of deep links each).

        Returns a DataFrame (query_id, rank, key, doc_id, score)."""
        from .facets import facet_key_expr
        from .scoring import scored_matches

        if per_key < 1:
            raise ValueError("per_key must be >= 1")
        engine, qtext = self._route(query)
        sm = scored_matches(self.spark, engine.store,
                            [{"query_id": 0, "text": qtext}])
        ds = engine.store.doc_stats(self.spark).select(
            "doc_id", "url", facet_key_expr(by).alias("key"))
        # score ties break on url — the stable EXTERNAL key (engine
        # doc_ids are url hashes, so url order is reproducible by any
        # oracle; doc_id order is not)
        wk = Window.partitionBy("query_id", "key").orderBy(
            F.round(F.col("score"), 9).desc(), F.col("url").asc())
        wq = Window.partitionBy("query_id").orderBy(
            F.round(F.col("score"), 9).desc(), F.col("url").asc())
        return (sm.join(ds, "doc_id")
                .withColumn("_rn", F.row_number().over(wk))
                .where(F.col("_rn") <= per_key).drop("_rn")
                .withColumn("rank", F.row_number().over(wq))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", "key", "doc_id", "score"))

    def recency_topk(self, query: str, k: int = 10, *,
                     ts_col: str = "warc_ts", now: str,
                     half_life_days: float = 30.0) -> DataFrame:
        """Recency-decayed ranking: exponential half-life decay on the
        crawl timestamp multiplies the BM25 score —

            decayed = score * 0.5 ^ (age_days / half_life_days)
            age_days = (epoch(now) - epoch(ts)) / 86400

        — the freshness boost of news/web search. ``now`` is an
        explicit ISO timestamp, never wall-clock, so runs are
        reproducible. Decay REORDERS the match set (an old strong hit
        can lose to a fresh weak one), so the whole match set must be
        scored: scored_matches + a doc_stats timestamp join + one
        top-k window; no driver shortcut is rank-safe.

        Returns (query_id, rank, doc_id, score, decayed) ordered by
        (round(decayed, 9) DESC, doc_id)."""
        if half_life_days <= 0:
            raise ValueError("half_life_days must be > 0")
        from .scoring import scored_matches

        engine, qtext = self._route(query)
        sm = scored_matches(self.spark, engine.store,
                            [{"query_id": 0, "text": qtext}])
        ds = engine.store.doc_stats(self.spark).select(
            "doc_id", "url", F.col(ts_col).alias("_ts"))
        age_days = (
            (F.unix_timestamp(F.lit(now).cast("timestamp"))
             - F.unix_timestamp(F.col("_ts"))).cast("double") / 86400.0)
        decayed = F.col("score") * F.pow(
            F.lit(0.5), age_days / F.lit(float(half_life_days)))
        # ties break on url (stable external key), as in collapsed_topk
        w = Window.partitionBy("query_id").orderBy(
            F.round(F.col("decayed"), 9).desc(), F.col("url").asc())
        return (sm.join(ds, "doc_id")
                .withColumn("decayed", decayed)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", "doc_id", "score", "decayed"))

    # ------------------------------------------------------------ explain
    def explain_topk(self, query: str, k: int = 10) -> list[dict]:
        """Lucene-style score explanation: the per-term BM25 breakdown
        of every top-k hit — (rank, doc_id, term, tf, dl, contrib,
        score) rows, contribution-identical to what the scorer summed
        (analysis.idf / bm25_term_score, the math.log forms — scorer
        bit-identity is the whole point of an explain API).

        Over-budget queries fetch the needed (tf, dl) cells through the
        distributed plan instead of decoding driver-side: pruned
        postings -> decode -> semi-filter to the k hit doc_ids ->
        collect k x |terms| rows (tiny)."""
        from ..analysis import bm25_term_score, idf

        engine, qtext = self._route(query)
        terms = sorted(set(tokenize(qtext)))
        snap = engine._snapshot()
        hits = engine._topk(snap, terms, k, "vectorized")
        if not hits:
            return []

        # (term -> doc -> (tf, dl)) for the hit docs only
        cells: dict[str, dict[int, tuple[int, int]]] = {}
        dfs: dict[str, int] = {}
        hit_ids = {int(d) for d, _ in hits}
        if engine._uncached_df_total(snap, terms) > engine.driver_df_budget:
            engine.driver_fallbacks += 1
            rows = self._explain_cells_distributed(engine, snap, terms,
                                                   hit_ids)
            for term, df_t, doc, tf, dl in rows:
                dfs[term] = int(df_t)
                cells.setdefault(term, {})[int(doc)] = (int(tf), int(dl))
        else:
            for t, (df_t, docs, tfs, dls) in engine._load_term_arrays(
                    snap, terms).items():
                dfs[t] = int(df_t)
                per = {}
                for d in hit_ids:
                    i = int(np.searchsorted(docs, d))
                    if i < len(docs) and int(docs[i]) == d:
                        per[d] = (int(tfs[i]), int(dls[i]))
                cells[t] = per

        out: list[dict] = []
        for rank, (doc, score) in enumerate(hits, start=1):
            for t in terms:
                hit = cells.get(t, {}).get(int(doc))
                if hit is None:
                    continue
                tf, dl = hit
                out.append({
                    "rank": rank, "doc_id": int(doc), "term": t,
                    "tf": tf, "dl": dl, "df": dfs[t],
                    "idf": idf(snap.n_docs, dfs[t]),
                    "contrib": bm25_term_score(
                        tf, dl, snap.avgdl, snap.n_docs, dfs[t], snap.k1,
                        snap.b),
                    "score": float(score),
                })
        return out

    def _explain_cells_distributed(self, engine, snap: Snapshot, terms,
                                   hit_ids):
        """(term, df, doc_id, tf, dl) for hit docs via the pruned
        distributed decode — the budget-safe explain path."""
        from .scoring import (decode_postings_map_in_pandas,
                              lookup_term_dfs, pruned_postings)

        tid = {term_id_for(t): t for t in terms}
        dfs = lookup_term_dfs(engine.store, sorted(tid), snap.n_buckets,
                              snap.epoch)
        dec = pruned_postings(self.spark, engine.store, sorted(dfs),
                              snap.n_buckets).mapInPandas(
            decode_postings_map_in_pandas,
            schema="term_id long, doc_id long, tf int, dl int")
        ids_df = self.spark.createDataFrame(
            [(int(d),) for d in hit_ids], "doc_id long")
        rows = (dec.join(F.broadcast(ids_df), "doc_id", "left_semi")
                .collect())
        return [(tid[r["term_id"]], dfs[r["term_id"]], r["doc_id"],
                 r["tf"], r["dl"]) for r in rows]

    # ----------------------------------------------------------- wildcard
    def wildcard_topk(self, pattern: str, k: int = 10,
                      max_expansions: int = 50,
                      method: str = "vectorized") -> list[tuple[int, float]]:
        """Generalized wildcard retrieval ('s*m', '*ow*'): '*' matches
        any run of characters anywhere in the term. Expands against the
        vocabulary sidecar's identity rows with a DISTRIBUTED scan
        (unlike prefix_topk's range-prunable pyarrow read, a mid-term
        wildcard has no sort-order handle — a full vocab scan is
        inherent, exactly as in Lucene's WildcardQuery, so it runs as
        one small Spark job over the bucketed sidecar), caps to the
        ``max_expansions`` highest-df matches ((df DESC, term), the
        MultiTermQuery rule), then scores the OR-bag through the
        normal BM25 path. Needs an index built with ``vocab=True``."""
        import re as _re

        if not pattern or pattern.strip("*") == "":
            raise ValueError("wildcard_topk needs a non-* literal")
        if "*" not in pattern:
            return self.topk(pattern, k, method=method)
        regex = ("^" + ".*".join(_re.escape(p)
                                 for p in pattern.split("*")) + "$")
        expansions = self._expand_vocab(regex, max_expansions,
                                        caller="wildcard_topk")
        if not expansions:
            return []
        return self.topk(" ".join(sorted(expansions)), k, method=method)

    def _expand_vocab(self, regex: str, max_expansions: int,
                      caller: str) -> list[str]:
        """Top-``max_expansions`` vocabulary terms matching an anchored
        regex, by (df DESC, term) — the Lucene MultiTermQuery rewrite
        rule shared by wildcard_topk and regexp_topk. One small Spark
        job over the bucketed vocab sidecar's identity rows (a full
        vocab scan is inherent: arbitrary regexes have no sort-order
        handle)."""
        epoch = int(self.manifest["epoch"])
        if not self.store.has_vocab(epoch):
            raise ValueError(
                f"{caller} needs the vocabulary sidecar — build "
                "with vocab=True / run build_vocab")
        vdf = self.spark.read.parquet(self.store.vocab_dir_for(epoch))
        top = (vdf.where(F.col("variant") == F.col("term"))
               .where(F.col("term").rlike(regex))
               .orderBy(F.col("df").desc(), F.col("term").asc())
               .limit(max_expansions))
        return [r["term"] for r in top.collect()]

    def regexp_topk(self, regex: str, k: int = 10,
                    max_expansions: int = 50,
                    method: str = "vectorized") -> list[tuple[int, float]]:
        """Lucene RegexpQuery analog: expand an ANCHORED regex (the
        whole term must match, as in Lucene — '^'/'$' are implied and
        must not be passed) against the vocabulary sidecar, cap to the
        ``max_expansions`` highest-df matches, score the OR-bag through
        the normal budget-gated BM25 path. The regex dialect is Spark's
        rlike (Java regex) — validated on the driver before the scan so
        a bad pattern fails fast, not inside an executor."""
        import re as _re

        if not regex:
            raise ValueError("regexp_topk needs a non-empty regex")
        if regex.startswith("^") or regex.endswith("$"):
            raise ValueError("regexp_topk anchors implicitly — pass the "
                             "bare term regex without ^/$")
        try:
            _re.compile(regex)
        except _re.error as e:
            raise ValueError(f"invalid regex {regex!r}: {e}") from None
        expansions = self._expand_vocab(f"^(?:{regex})$", max_expansions,
                                        caller="regexp_topk")
        if not expansions:
            return []
        return self.topk(" ".join(sorted(expansions)), k, method=method)

    # -------------------------------------------------- significant terms
    def significant_terms(self, query: str, docs_df: DataFrame,
                          top: int = 20, sample_size: int = 100,
                          min_doc_count: int = 2) -> DataFrame:
        """ES-style significant_terms over this query's match set: the
        ``top`` terms most over-represented in the best
        ``sample_size`` hits vs the whole corpus, JLH-scored (see
        query/sigterms.py for the plan shape). ``docs_df`` supplies
        the hit docs' text (the index keeps no forward index — same
        contract as search(snippet_docs=))."""
        from .sigterms import significant_terms as _st

        engine, qtext = self._route(query)
        return _st(self.spark, engine.store, qtext, docs_df, top=top,
                   sample_size=sample_size, min_doc_count=min_doc_count)

    # ------------------------------------------------------------- rescore
    def rescore_topk(self, query: str, k: int = 10, *, window: int = 50,
                     weight: float = 1.0) -> list[tuple[int, float]]:
        """ES rescore analog: rank the BM25 top-``window`` once more
        with a positional proximity bonus —

            final = bm25 + weight / (1 + min_cover_span - n_terms)

        where min_cover_span is the smallest token window containing
        every query term at least once (index/positions.min_cover_span
        over the positions sidecar; an exact adjacent run scores the
        full ``weight``, scattered terms decay hyperbolically) and
        docs missing any term keep their BM25 score. The classic
        two-stage trade: cheap recall over the corpus, expensive
        precision over a bounded window — the window is top-k-sized,
        so the rescore never touches more than ``window`` docs no
        matter the corpus size. Needs an index built with positions.

        Returns (doc_id, final) ordered by (round(final, 9) DESC,
        doc_id)."""
        from ..index.positions import min_cover_span

        if window < k:
            raise ValueError("window must be >= k")
        engine, qtext = self._route(query)
        snap = engine._snapshot()
        if not engine.store.has_positions(snap.epoch):
            raise ValueError(
                "rescore_topk needs the positional sidecar — build "
                "with positions=True / run build_positions")
        terms = sorted(set(tokenize(qtext)))
        base = engine._topk(snap, terms, window, "vectorized")
        if not base:
            return []
        runs = {t: engine._load_positions_term(snap, t) for t in terms}
        out = []
        for doc, score in base:
            pls = []
            for t in terms:
                r = runs.get(t)
                if r is None:
                    break
                docs, off, flat = r
                i = int(np.searchsorted(docs, doc))
                if i >= len(docs) or int(docs[i]) != doc:
                    break
                pls.append(flat[off[i]:off[i + 1]])
            bonus = 0.0
            if len(pls) == len(terms):
                span = min_cover_span(pls)
                if span is not None:
                    bonus = float(weight) / (1.0 + span - len(terms))
            out.append((int(doc), float(score) + bonus))
        out.sort(key=lambda x: (-round(x[1], 9), x[0]))
        return out[:k]

    # --------------------------------------------------------- rank eval
    def rank_eval(self, queries: list[dict], qrels: DataFrame,
                  k: int = 10) -> DataFrame:
        """ES ``_rank_eval`` analog: run the batch through the
        distributed exact top-k plan and score it against graded
        judgments ``qrels`` (query_id, doc_id, grade) — per-query
        precision@k, recall@k, MRR and nDCG@k (see query/rankeval.py).
        ``qrels`` doc ids live in the index's doc-id space (sha1 of
        url, analysis.doc_id_for_url)."""
        from .rankeval import rank_eval as _re

        hits = self.query_batch(queries, k=k)
        return _re(hits, qrels, k=k)

    # --------------------------------------------------------- span near
    def span_near_topk(self, query: str, k: int = 10, *,
                       slop: int = 2) -> list[tuple[int, float]]:
        """Unordered proximity search — the Lucene
        SpanNearQuery(inOrder=false) analog for single-token clauses: a
        doc matches when SOME token window holds every query term with
        at most ``slop`` surplus width (min_cover_span - n_terms <=
        slop; slop=0 means the n terms occupy n adjacent slots in ANY
        order — the unordered counterpart of phrase_topk, whose slop
        bounds each ordered gap). Survivors are BM25-ranked over the
        query's terms with GLOBAL stats, the family's filtered-search
        convention. Needs the positional sidecar (there is no corpus
        regex for unordered windows; positions are the primitive).

        Budget-gated: over-budget queries run the distributed plan —
        score_phrase_batch with positions.span_match as the verify,
        one pruned postings pass + the positional verify, no corpus
        access at all."""
        from ..index.positions import span_match

        if slop < 0:
            raise ValueError("slop must be >= 0")
        snap = self._snapshot()
        if not self.store.has_positions(snap.epoch):
            raise ValueError(
                "span_near_topk needs the positional sidecar — build"
                " with positions=True / run build_positions")
        # no summary routing: a proximity query legitimately starts
        # with 'summary'/'summarize' and must not lose that term
        engine, qtext = self, query
        terms = sorted(set(tokenize(qtext)))
        if len(terms) < 2:
            raise ValueError("span_near_topk needs >= 2 distinct terms")
        if engine._uncached_df_total(snap, terms) > engine.driver_df_budget:
            engine.driver_fallbacks += 1
            from .phrase import score_phrase_batch

            res = score_phrase_batch(
                self.spark, engine.store, None,
                [(0, " ".join(terms))], k=k, slop=slop,
                match_fn=span_match)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        arrays = engine._load_term_arrays(snap, terms)
        if len(arrays) < len(terms):
            return []  # some term has no postings at all
        by_rarity = sorted(terms, key=lambda t: len(arrays[t][1]))
        cand = arrays[by_rarity[0]][1]
        for t in by_rarity[1:]:
            cand = cand[np.isin(cand, arrays[t][1], assume_unique=True)]
            if not len(cand):
                return []
        # LAZY, score-ordered verify (phrase_topk's device): rank ALL
        # candidates by BM25 first (scores need no verify), then
        # span-check in descending-score batches and stop as soon as k
        # survive — cost tracks k, not the conjunction size. A 2-term
        # query of common terms can have 10^5 conjunctive candidates;
        # verifying them all made the bench leg 1.5 s/query.
        from .wand import accumulate_scores

        uniqc, sc = accumulate_scores(arrays, candidates=cand, **snap.bm25)
        order = np.lexsort((uniqc, -np.round(sc, 9)))
        rd, rs = uniqc[order], sc[order]
        runs = {t: engine._load_positions_term(snap, t) for t in terms}
        if any(runs.get(t) is None for t in terms):
            return []
        out: list[tuple[int, float]] = []
        step = max(4 * k, 64)
        for i in range(0, len(rd), step):
            for doc, score in zip(rd[i:i + step].tolist(),
                                  rs[i:i + step].tolist()):
                pls = []
                for t in terms:
                    docs, off, flat = runs[t]
                    j = int(np.searchsorted(docs, doc))
                    if j >= len(docs) or int(docs[j]) != doc:
                        break
                    pls.append(flat[off[j]:off[j + 1]])
                if len(pls) == len(terms) and span_match(pls, slop):
                    out.append((int(doc), float(score)))
            if len(out) >= k:
                break
        return out[:k]

    # ------------------------------------------------------------ synonyms
    def synonym_topk(self, query: str, synonyms: dict[str, list[str]],
                     k: int = 10) -> list[tuple[int, float]]:
        """Lucene-SynonymQuery retrieval: each query term plus its
        ``synonyms`` entries forms ONE concept group — member tfs SUM
        per doc and the group idf uses the MAX member df (blended
        frequency), so a doc saying "car car auto" scores the concept
        like tf=3, not as three OR clauses with three idfs. Groups then
        combine as ordinary BM25 terms (group-key-ascending sum).

        Budget-gated like topk(): over-budget queries run the
        distributed score_synonym_batch plan with identical ranking
        (scores equal to 1e-9; doc order exact)."""
        from .scoring import score_synonym_batch
        from .wand import vectorized_topk_arrays

        engine, qtext = self._route(query)
        groups: dict[str, list[str]] = {}
        for t in sorted(set(tokenize(qtext))):
            members = {t}
            for s in synonyms.get(t, []):
                members.update(tokenize(s))
            groups[t] = sorted(members)
        all_terms = sorted({t for ms in groups.values() for t in ms})
        if not all_terms:
            return []
        snap = engine._snapshot()
        if engine._uncached_df_total(snap, all_terms) > engine.driver_df_budget:
            engine.driver_fallbacks += 1
            res = score_synonym_batch(
                self.spark, engine.store,
                [{"query_id": 0, "groups": groups}], k=k)
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in res.orderBy("rank").collect()]
        arrays = engine._load_term_arrays(snap, all_terms)
        blended: dict[str, tuple] = {}
        for gkey, members in groups.items():
            present = [t for t in members if t in arrays and len(arrays[t][1])]
            if not present:
                continue
            df_g = max(int(arrays[t][0]) for t in present)
            if len(present) == 1:
                _, docs, tfs, dls = arrays[present[0]]
            else:
                docs_all = np.concatenate([arrays[t][1] for t in present])
                tfs_all = np.concatenate([arrays[t][2] for t in present])
                dls_all = np.concatenate([arrays[t][3] for t in present])
                docs, inv = np.unique(docs_all, return_inverse=True)
                tfs = np.zeros(len(docs), dtype=np.int64)
                np.add.at(tfs, inv, tfs_all.astype(np.int64))
                dls = np.zeros(len(docs), dtype=np.int64)
                dls[inv] = dls_all  # dl is per-doc, equal across terms
            blended[gkey] = (df_g, docs, tfs, dls)
        if not blended:
            return []
        return vectorized_topk_arrays(blended, k=k, **snap.bm25)

    # ------------------------------------------------------------- delete
    def delete_urls(self, urls: list[str]) -> int:
        """Tombstone the docs for these urls; returns count tombstoned.
        (Fixes the reference bug where only the last file's delete count
        is returned, /root/reference/api/delete.py:27-31.)"""
        urls_df = self.spark.createDataFrame([(u,) for u in urls], "url string")
        doc_ids = urls_df.select(doc_id_expr("url").alias("doc_id"))
        self.store.append_tombstones(doc_ids)
        return doc_ids.count()
