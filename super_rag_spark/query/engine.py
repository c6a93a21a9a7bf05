"""BM25Engine — the user-facing facade over one index directory.

- build()        builds the index (the reference's ingest endpoint)
- query_batch()  distributed Spark plan for query batches (its query
                 endpoint)
- topk()         the same query on the driver: NumPy scoring over the
                 cached decoded postings or block-max WAND over the
                 encoded blocks (rank-identical), both fed by the
                 snapshot's term directory (index/termdir.py) from the
                 Arrow row groups it caches
- delete_urls()  tombstone append (its delete endpoint); postings are
                 cleaned at the next merge and masked at query time
- summary routing: topk-style queries starting with "summarize" run on
  the "<name>summary" index when present, after stripping the keyword.

Every public query takes one Snapshot (index/storage.py) and reads
only it; a distributed plan gets the snapshot its caller took. Every
budget-gated driver query asks one gate, ``_over_budget``: when the
uncached terms' Σdf exceeds ``driver_df_budget`` it counts one
``driver_fallbacks`` and the query runs its rank-identical distributed
plan, under the same snapshot, instead of decoding O(df) postings on
the driver. The missed terms of a query decode in one
``codec.decode_blocks_batch`` call, straight from the Arrow varint
buffers of the row groups the term directory holds; ``method="wand"``
takes the same rows as one record batch per term, sliced from those
row groups on each call, and decodes only the blocks it cannot skip.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..analysis import term_id_for, tokenize
from ..index.build import build_index, doc_id_expr
from ..index.storage import IndexStorage, Snapshot, bucket_of_term_id
from ..index.termdir import TermDirectory, _Cache
from .scoring import doc_frame, score_query_batch, score_query_batch_wand
from .wand import vectorized_topk_arrays, wand_topk

# topk methods -> scorers. _topk resolves the vectorized one
# through the wand module on each call, so a rebound function (a tracer)
# takes effect there as it does here for "wand".
_TOPK_METHODS = {
    "vectorized": vectorized_topk_arrays,  # cached decoded arrays (lowest latency)
    "wand": wand_topk,  # encoded blocks with block-max skipping
}


def _ranked_hits(res: DataFrame) -> list[tuple[int, float]]:
    """(doc_id, score) rows of a distributed plan's result, in rank
    order."""
    return [(int(r["doc_id"]), float(r["score"]))
            for r in res.orderBy("rank").collect()]


def _conjunction(arrays: dict, terms) -> np.ndarray:
    """Sorted doc_ids holding every one of ``terms``: their decoded doc
    arrays intersected rarest first. Empty when a term has no
    postings."""
    if any(t not in arrays for t in terms):
        return np.empty(0, dtype=np.int64)
    by_rarity = sorted(terms, key=lambda t: len(arrays[t][1]))
    cand = arrays[by_rarity[0]][1]
    for t in by_rarity[1:]:
        if not len(cand):
            break
        cand = cand[np.isin(cand, arrays[t][1], assume_unique=True)]
    return cand


def _lazy_verified(snap: Snapshot, arrays: dict, cand: np.ndarray, k: int,
                   verify) -> list[tuple[int, float]]:
    """Top-k of the candidates that pass ``verify``, without verifying
    them all: every candidate is BM25-ranked first (scores need no
    verify), then ``verify`` (sorted doc batch -> the docs that pass)
    runs on descending-score batches until k survive. Cost tracks k,
    not the candidate count: two common terms can have 10^5
    conjunctive candidates."""
    from .wand import accumulate_scores

    uniq, scores = accumulate_scores(arrays, candidates=cand, **snap.bm25)
    order = np.lexsort((uniq, -np.round(scores, 9)))
    docs, scores = uniq[order], scores[order]
    out: list[tuple[int, float]] = []
    step = max(4 * k, 64)
    for i in range(0, len(docs), step):
        ok = set(verify(np.sort(docs[i:i + step])).tolist())
        out.extend((d, s) for d, s in zip(docs[i:i + step].tolist(),
                                          scores[i:i + step].tolist())
                   if d in ok)
        if len(out) >= k:
            break
    return out[:k]


def _match_expr(query: str, boolean: bool, caller: str) -> str:
    """The AND/OR/NOT chain a match-set query runs: ``query`` itself
    when ``boolean``, else the OR-bag of its terms."""
    if boolean:
        return query
    terms = sorted(set(tokenize(query)))
    if not terms:
        raise ValueError(f"{caller} needs at least one term")
    return " OR ".join(terms)


class BM25Engine:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.store = IndexStorage(index_dir)
        self._manifest: dict | None = None
        self._manifest_sig: tuple | None = None
        self._summary: BM25Engine | None = None  # see _route
        # Everything the driver path caches, the term directory's reads
        # included, lives in one LRU keyed by epoch (see _Cache for its
        # kinds), so a long-lived engine never reads a GC'd epoch
        # through a stale entry. Head terms repeat across real query
        # streams, and a decoded hit skips straight to scoring.
        self._cache = _Cache()
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
        n_buckets = int(m["n_buckets"])
        return Snapshot(self.store, epoch, int(m["n_docs"]),
                        float(m["avgdl"]), float(m["k1"]), float(m["b"]),
                        n_buckets, m, self._tombstones(epoch),
                        TermDirectory(self.store, epoch, n_buckets,
                                      self._cache))

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
            except FileNotFoundError:
                pass  # the epoch moved on again mid-warm; queries reload

    # ------------------------------------------------------------- query
    def query_batch(self, queries: list[dict], k: int = 10,
                    candidates: DataFrame | None = None) -> DataFrame:
        """Distributed exact BM25 for a batch of queries ->
        (query_id, rank, doc_id, score). ``candidates``: optional
        (doc_id) frame restricting the scored set (P7 filter)."""
        return score_query_batch(self.spark, self._snapshot(), queries, k=k,
                                 candidates=candidates)

    def query_batch_wand(self, queries: list[dict], k: int = 10,
                         candidates: DataFrame | None = None) -> DataFrame:
        """Distributed block-max WAND over the query batch (one WAND
        task per query and salt range; blocks stay encoded until the
        scorer needs them). ``candidates``: optional (doc_id) frame (P7
        filter), routed to each salt range's task so block skipping
        survives broad filters. Rank-identical to query_batch."""
        return score_query_batch_wand(self.spark, self._snapshot(), queries,
                                      k=k, candidates=candidates)

    def boolean_batch(self, queries: list[tuple[int, str]],
                      k: int = 10) -> DataFrame:
        """Index-backed DISTRIBUTED boolean retrieval for a batch of
        AND/OR/NOT expressions -> (query_id, rank, doc_id, score).
        One pruned-postings pass + one shuffle for the whole batch; no
        corpus access, no driver-side postings (query/boolean.py
        score_boolean_batch). Rank-identical to boolean_topk."""
        from .boolean import score_boolean_batch

        return score_boolean_batch(self.spark, self._snapshot(), queries, k=k)

    def phrase_batch(self, phrases: list[tuple[int, str]],
                     docs_df: DataFrame, k: int = 10,
                     slop: int = 0) -> DataFrame:
        """Index-backed DISTRIBUTED phrase search for a batch ->
        (query_id, rank, doc_id, score). Candidates come from the index
        (conjunctive postings gate); ``docs_df`` is touched only to
        verify adjacency on candidates (query/phrase.py
        score_phrase_batch). Rank-identical to phrase_topk."""
        from .phrase import score_phrase_batch

        return score_phrase_batch(self.spark, self._snapshot(), docs_df,
                                  phrases, k=k, slop=slop)

    def _dataset(self, snap: Snapshot, table: str, bucket: int):
        """pyarrow dataset of one sidecar bucket (``positions`` or
        ``vocab``), opened once per epoch through the cache; None for a
        vocab bucket its build wrote no terms to, and a missing
        positions bucket raises (IndexStorage.bucket_dir)."""
        key = (snap.epoch, table, bucket)
        dataset = self._cache.get(key)
        if dataset is None:
            p = self.store.bucket_dir(table, snap.epoch, bucket)
            if p is None:
                return None
            dataset = ds.dataset(p, format="parquet")
            self._cache.put(key, dataset)
        return dataset

    def _load_term_arrays(self, snap: Snapshot, terms: list[str]) -> dict:
        """Decoded per-term postings {term: (df, docs, tfs, dls)}, docs
        sorted ascending, through the cache; OOV terms are absent. The
        arrays are unmasked: scorers take pending tombstones as
        ``deleted`` (see Snapshot.bm25), so deletes keep the cache. The
        missed terms decode together, in one call, straight from the
        byte ranges their row-group slices span."""
        from ..codec import ENC_COLS, EncodedBlocks, decode_blocks_batch

        out: dict = {}
        missing: dict[str, int] = {}  # term -> term_id
        for t in terms:
            # cached as one (3, df) array: one object per term, where
            # three arrays and a tuple cost a rarely repeated tail term
            # more than its postings
            hit = self._cache.get((snap.epoch, "dec", t))
            if hit is not None:
                out[t] = (hit.shape[1], *hit)
            else:
                missing[t] = term_id_for(t)
        # slices takes in-vocabulary ids: df from the cached stats
        dfs = snap.terms.dfs(missing.values())
        missing = {t: tid for t, tid in missing.items() if dfs.get(tid)}
        by_tid = snap.terms.slices(missing.values())
        slices = {t: by_tid[tid] for t, tid in missing.items() if tid in by_tid}
        if not slices:
            return out
        parts = [p for ps in slices.values() for p in ps]
        docs, tfs, dls, ns = decode_blocks_batch(EncodedBlocks(
            *(np.concatenate([rg.stream(i, s, e) for rg, s, e in parts])
              for i in range(len(ENC_COLS))),
            np.concatenate([rg.n[s:e] for rg, s, e in parts])))
        # term i's postings are [at[i], at[i + 1]) of the decoded arrays
        at = np.concatenate(([0], np.cumsum(ns)))[np.cumsum(
            [0] + [sum(e - s for _, s, e in ps) for ps in slices.values()])]
        for t, p0, p1 in zip(slices, at[:-1].tolist(), at[1:].tolist()):
            # a copy per term: a view would keep the whole call's
            # decode alive for as long as any one of its terms is cached
            run = np.stack((docs[p0:p1], tfs[p0:p1], dls[p0:p1]))
            if (run[0, 1:] < run[0, :-1]).any():
                # segment runs of one term interleave in doc_id
                run = run[:, np.argsort(run[0], kind="stable")]
            out[t] = (p1 - p0, *run)
            self._cache.put((snap.epoch, "dec", t), run, run.nbytes)
        return out

    def _term_dfs(self, snap: Snapshot, terms: list[str]) -> dict[str, int]:
        """df per term, 0 for an OOV term."""
        dfs = snap.terms.dfs(map(term_id_for, terms))
        return {t: dfs.get(term_id_for(t), 0) for t in terms}

    def _uncached_df_total(self, snap: Snapshot, terms: list[str]) -> int:
        """Σdf of the terms the driver does not hold decoded — the
        postings volume a driver-side load would actually pull. A cached
        row group does not count: it holds every term of its bucket, and
        a head term among them still decodes O(df) postings. df comes
        from the term_stats arrays; an OOV term reads nothing."""
        missing = [t for t in terms
                   if (snap.epoch, "dec", t) not in self._cache]
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

    def _over_budget(self, snap: Snapshot, terms) -> bool:
        """The driver df budget gate, asked once per query: True, and
        one more ``driver_fallbacks``, when decoding the uncached terms
        would pull more than ``driver_df_budget`` postings onto the
        driver. The caller then runs its distributed plan."""
        if self._uncached_df_total(snap, terms) <= self.driver_df_budget:
            return False
        self.driver_fallbacks += 1
        return True

    def _topk(self, snap: Snapshot, terms: list[str], k: int, method: str,
              approx: float = 1.0, allowed=None) -> list[tuple[int, float]]:
        """Top-k of the OR-bag of sorted unique ``terms`` under ``snap``:
        ``vectorized`` scores the cached decoded arrays, ``wand`` the
        encoded blocks with block-max skipping. ``allowed``: optional
        sorted doc_id array, the only docs ranked (search's selective
        filter). Over budget, the distributed WAND plan runs instead
        (rank-identical; its per-salt-range tasks decode only their own
        stripes), with ``allowed`` as its candidates."""
        if method not in _TOPK_METHODS:
            raise ValueError(f"unknown topk method: {method!r}")
        if not terms or (allowed is not None and not len(allowed)):
            return []
        if self._over_budget(snap, terms):
            return _ranked_hits(score_query_batch_wand(
                self.spark, snap, [{"query_id": 0, "text": " ".join(terms)}],
                k=k, candidates=(None if allowed is None
                                 else doc_frame(self.spark, allowed))))
        if method == "wand":
            dfs = snap.terms.dfs(map(term_id_for, terms))
            by_tid = snap.terms.block_batches(dfs)
            blocks = {t: (dfs[tid], by_tid[tid]) for t in terms
                      if (tid := term_id_for(t)) in by_tid}
            return _TOPK_METHODS["wand"](
                blocks, k=k, allowed=allowed, approx=approx,
                **snap.bm25) if blocks else []
        from .wand import vectorized_topk_arrays

        arrays = self._load_term_arrays(snap, terms)
        return vectorized_topk_arrays(
            arrays, k=k, candidates=allowed, **snap.bm25) if arrays else []

    def topk(self, query: str, k: int = 10, method: str = "vectorized",
             approx: float = 1.0) -> list[tuple[int, float]]:
        """Single-query top-k on the driver (low-latency path).
        A query whose first token starts with "summar" drops that token
        and runs on the summary index when one exists (see _route).
        ``method="vectorized"`` scores the cached decoded postings,
        ``"wand"`` skips blocks on the encoded ones; both return the
        same ranking and scores (asserted in tests). Pending deletes are
        masked per query on either path.
        ``approx`` > 1.0 (wand only) enables bounded-error early
        termination: skipped docs provably score < approx * the
        returned k-th score. A query over the driver df budget
        (_over_budget) runs the EXACT distributed WAND plan instead —
        ``approx`` is ignored there (early termination is a driver-path
        device)."""
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
        if engine._over_budget(snap, terms):
            return _ranked_hits(score_query_batch(
                self.spark, snap,
                [{"query_id": 0, "text": " ".join(terms),
                  "boosts": weights, "msm": msm}], k=k))
        from .wand import vectorized_topk_arrays

        return vectorized_topk_arrays(engine._load_term_arrays(snap, terms),
                                      k=k, weights=weights, msm=msm,
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
        if engine._over_budget(snap, terms):
            return _ranked_hits(score_query_batch(
                self.spark, snap, [{"query_id": 0, "text": qtext}],
                k=k, after=after))
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
          topk's driver path with the candidates as a mask, and its df
          budget gate: over budget, the small candidate set broadcasts
          into the distributed WAND plan. Broad filters go through the
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
        # NO summary routing for the structured DSL: the 'summarize'
        # keyword-strip would eat a legitimate leading term/prefix
        # ('summary AND report' -> 'AND report', a parse error)
        snap = self._snapshot()
        engine, qtext = (self, query) if qs else self._route(query)
        esnap = snap if engine is self else engine._snapshot()
        cand_df: DataFrame | None = None
        allowed = None  # small-set fast path: sorted int64 array
        if where is not None:
            if docs_meta is None:
                docs_meta = self.store.doc_stats(self.spark, snap.epoch)
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
        terms, hits = [], []
        if qs:
            hits, qs_bag = self._query_string_hits(
                snap, qtext, k, qs_max_expansions, cand_df, allowed)
        else:
            terms = sorted(set(tokenize(qtext)))
        if terms and cand_df is not None:
            # distributed path: candidate semi-join BEFORE scoring, then
            # global top-k — identical ranking to the driver path (the
            # contribution exprs mirror bm25_term_score bit-for-bit).
            # method="wand" keeps block skipping under the broad filter
            # (candidates routed to their salt range's task, scoring.py)
            scorer = (score_query_batch_wand if method == "wand"
                      else score_query_batch)
            hits = _ranked_hits(scorer(self.spark, esnap,
                                       [{"query_id": 0, "text": qtext}],
                                       k=k, candidates=cand_df))
        elif terms:
            hits = engine._topk(esnap, terms, k, method, allowed=allowed)
        out = self.spark.createDataFrame(
            [(i + 1, d, float(s)) for i, (d, s) in enumerate(hits)],
            "rank int, doc_id long, score double")
        out = out.join(engine.store.doc_stats(self.spark, esnap.epoch)
                       .select("doc_id", "url"), "doc_id", "left")
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
        if self._over_budget(snap, uterms):
            from .phrase import score_phrase_batch

            return _ranked_hits(score_phrase_batch(
                self.spark, snap, docs_df, [(0, phrase)], k=k, slop=slop))
        arrays = self._load_term_arrays(snap, uterms)
        cand = _conjunction(arrays, uterms)
        if not len(cand):
            return []
        if docs_df is None:
            # position runs load per TERM through the cache (doc ids are
            # content hashes, so batches have no block locality); the
            # batching bounds the chain_match work, not the I/O
            return _lazy_verified(
                snap, arrays, cand, k, lambda batch:
                self._phrase_verified_driver(snap, terms, batch, slop, None))
        verified = self._phrase_verified_driver(snap, terms, cand, slop,
                                                docs_df)
        return vectorized_topk_arrays(arrays, k=k, candidates=verified,
                                      **snap.bm25)

    def _load_positions_term(self, snap: Snapshot, term: str):
        """Decoded position run of one term through the cache:
        (docs sorted array, off, flat) with doc i's positions =
        flat[off[i]:off[i+1]]; empty arrays for a term with no
        positions. Like decoded postings, the first touch of a term pays
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
        rows = sorted(dataset.to_table(
            filter=ds.field("term_id") == tid,
            columns=["block_id", "n", "first_doc_id",
                     "docs_enc", "cnt_enc", "pos_enc"]).to_pylist(),
            key=lambda r: r["first_doc_id"])
        empty = np.empty(0, dtype=np.int64)
        dchunks, cchunks, fchunks = [empty], [empty], [empty]
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

    def _positions_of(self, snap: Snapshot, terms: list[str], cand):
        """Yield (doc, [positions of each of ``terms``, in order]) for
        every doc of ``cand`` (int64 array) that holds all the terms,
        from the cached position runs (no Spark job)."""
        runs = {t: self._load_positions_term(snap, t) for t in set(terms)}
        # per term: locate every candidate in the term's doc run once
        # (vectorized searchsorted); a miss anywhere kills the doc
        locs: dict[str, np.ndarray] = {}
        alive = np.ones(len(cand), dtype=bool)
        for t, (docs, _, _) in runs.items():
            i = np.searchsorted(docs, cand)
            ok = i < len(docs)
            ok[ok] = docs[i[ok]] == cand[ok]
            alive &= ok
            locs[t] = i
        for j in np.flatnonzero(alive).tolist():
            lists = []
            for t in terms:
                _, off, flat = runs[t]
                i = int(locs[t][j])
                lists.append(flat[off[i]:off[i + 1]])
            yield int(cand[j]), lists

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
        if self._over_budget(snap, all_terms):
            from .boolean import score_boolean_batch

            return _ranked_hits(score_boolean_batch(self.spark, snap,
                                                    [(0, expr)], k=k))
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

    def _require_vocab(self, snap: Snapshot, caller: str) -> None:
        if not self.store.has_vocab(snap.epoch):
            raise ValueError(
                f"{caller} needs the vocabulary sidecar — build with"
                " vocab=True / run build_vocab")

    def suggest(self, prefix: str, k: int = 10) -> list[tuple[str, int]]:
        """Prefix autocomplete on the driver: top-k vocabulary terms
        starting with ``prefix``, by (df DESC, term) — pyarrow scan of
        the sidecar's identity rows, no Spark job. Needs vocab=True."""
        return self._suggest(self._snapshot(), prefix, k)

    def _suggest(self, snap: Snapshot, prefix: str,
                 k: int) -> list[tuple[str, int]]:
        self._require_vocab(snap, "suggest")
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
        self._require_vocab(snap, "fuzzy_topk")
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
        cannot explode into millions of terms — then score the expanded
        OR-bag like topk (each expansion with its own idf, so rare
        expansions rank their docs higher; the driver df budget gate
        applies). Expansion and scoring share one snapshot, and the
        expansions are never summary-routed: 'summ' scores 'summary'.
        Needs an index built with ``vocab=True``.

        Reference analog: super-rag has no sparse wildcard (dense
        embeddings subsume it); this is Lucene PrefixQuery re-expressed
        over the sidecar + existing scorer."""
        if not prefix:
            raise ValueError("prefix_topk needs a non-empty prefix")
        snap = self._snapshot()
        expansions = [t for t, _ in self._suggest(snap, prefix,
                                                  max_expansions)]
        return self._topk(snap, sorted(expansions), k, method)

    def fuzzy_expansions(self, term: str, max_dist: int = 1,
                         max_expansions: int = 50) -> list[str]:
        """ALL vocabulary terms within ``max_dist`` edits of ``term``
        (the Lucene FuzzyQuery expansion set — _correct_term keeps only
        the best ONE for did-you-mean), deterministic (df DESC, term)
        and capped at ``max_expansions`` like every MultiTermQuery
        rewrite here. Same lookup as _correct_term (_vocab_matches),
        bounded by the sidecar's neighborhood depth the same way."""
        return self._fuzzy_expansions(self._snapshot(), term, max_dist,
                                      max_expansions)

    def _fuzzy_expansions(self, snap: Snapshot, term: str, max_dist: int,
                          max_expansions: int) -> list[str]:
        found = self._vocab_matches(snap, term, max_dist)
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
        node = qstring.expand_leaves(self, snap, node, max_expansions)
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
        if cand_df is not None or self._over_budget(snap, allt):
            cands = qstring.accepted_docs_df(self.spark, snap, node, docs_df)
            if cand_df is not None:
                cands = cands.join(cand_df.select("doc_id"), "doc_id",
                                   "left_semi")
            if allowed is not None:
                # a SELECTIVE filter must bind on the distributed path
                # too (over-budget terms do not waive it): the small
                # allowed set broadcasts into the semi-join
                cands = cands.join(doc_frame(self.spark, allowed), "doc_id",
                                   "left_semi")
            return _ranked_hits(score_query_batch(
                self.spark, snap,
                [{"query_id": 0, "text": " ".join(sorted(bag)),
                  "boosts": bag}], k=k, candidates=cands)), bag
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
                cand = _conjunction(arrays, sorted(set(n.terms)))
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
        """The docs of a candidate array (sorted unique int64) that hold
        the phrase: chain-verified against the positional sidecar when
        ``docs_df`` is None, else one Spark job over the
        candidate-semi-joined corpus. Used by phrase_topk and the qstring
        Phrase leaf. Returns a sorted unique int64 array."""
        from ..index.positions import chain_match
        from .phrase import (joined_tokens_expr, phrase_pattern,
                             plan_barrier)

        if docs_df is None:
            return np.array([d for d, lists in self._positions_of(
                snap, terms, cand) if chain_match(lists, slop)],
                dtype=np.int64)
        src = docs_df
        if "doc_id" not in src.columns:
            src = src.withColumn("doc_id", doc_id_expr("url"))
        # plan_barrier: without it Catalyst substitutes jt into the
        # contains/rlike filter and pushes it BELOW the broadcast join —
        # re-tokenizing the whole corpus (see phrase.py)
        jt = (src.join(doc_frame(self.spark, cand), "doc_id")
              .select("doc_id",
                      plan_barrier(joined_tokens_expr("text")).alias("jt")))
        pat = phrase_pattern(terms, slop)
        matcher = (F.col("jt").contains(pat) if slop == 0
                   else F.col("jt").rlike(pat))
        # np.unique: a url ingested twice gives duplicate doc_id rows,
        # and callers need a sorted-unique array
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

        expr = _match_expr(query, boolean, "facet_counts")
        return _fc(self.spark, self._snapshot(), expr, by=by, top=top,
                   granularity=granularity)

    def facet_stats(self, query: str, val_col: str, by: str = "host",
                    top: int = 20, boolean: bool = False,
                    granularity: str | None = None):
        """ES metric aggregation inside facet buckets: per-facet
        numeric stats (n/min/max/avg/sum) of a doc_stats column over
        the FULL match set — see query/facets.facet_stats. Same query
        grammar as facet_counts."""
        from .facets import facet_stats as _fs

        expr = _match_expr(query, boolean, "facet_stats")
        return _fs(self.spark, self._snapshot(), expr, val_col, by=by,
                   top=top, granularity=granularity)

    def match_count(self, query: str, *, boolean: bool = False) -> int:
        """The ES ``_count`` endpoint: how many docs match, no ranking
        — a plain query counts its OR-bag, ``boolean=True`` counts an
        AND/OR/NOT chain (query/boolean.py grammar). Runs the
        index-backed distributed match-set plan (one pruned-postings
        pass + one shuffle + a count; no corpus access, no top-k
        window, nothing collected but the number)."""
        from .boolean import accepted_docs

        expr = _match_expr(query, boolean, "match_count")
        return (accepted_docs(self.spark, self._snapshot(), [(0, expr)])
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

        expr = _match_expr(query, boolean, "sorted_topk")
        return _st(self.spark, self._snapshot(), expr, by, k=k,
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
        snap = engine._snapshot()
        sm = scored_matches(self.spark, snap, [{"query_id": 0, "text": qtext}])
        ds = engine.store.doc_stats(self.spark, snap.epoch).select(
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
        snap = engine._snapshot()
        sm = scored_matches(self.spark, snap, [{"query_id": 0, "text": qtext}])
        ds = engine.store.doc_stats(self.spark, snap.epoch).select(
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
        collect k x |terms| rows (tiny). The budget is decided once,
        by _topk's gate."""
        from ..analysis import bm25_term_score, idf

        engine, qtext = self._route(query)
        terms = sorted(set(tokenize(qtext)))
        snap = engine._snapshot()
        n0 = engine.driver_fallbacks
        hits = engine._topk(snap, terms, k, "vectorized")
        if not hits:
            return []

        # (term -> doc -> (tf, dl)) for the hit docs only
        cells: dict[str, dict[int, tuple[int, int]]] = {}
        dfs: dict[str, int] = {}
        hit_ids = {int(d) for d, _ in hits}
        if engine.driver_fallbacks > n0:
            # _topk ran the distributed plan: nothing was decoded here
            rows = self._explain_cells_distributed(snap, terms, hit_ids)
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

    def _explain_cells_distributed(self, snap: Snapshot, terms, hit_ids):
        """(term, df, doc_id, tf, dl) for hit docs via the snapshot's
        distributed postings decode — the budget-safe explain path."""
        from .scoring import decoded_postings, lookup_term_dfs

        tid = {term_id_for(t): t for t in terms}
        dfs = lookup_term_dfs(snap, tid)
        rows = (decoded_postings(self.spark, snap, list(dfs))
                .join(doc_frame(self.spark, sorted(hit_ids)), "doc_id",
                      "left_semi")
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
        MultiTermQuery rule), then scores the OR-bag like prefix_topk,
        under one snapshot and without summary routing. A pattern
        without '*' is a plain term query. Needs an index built with
        ``vocab=True``."""
        import re as _re

        if not pattern or pattern.strip("*") == "":
            raise ValueError("wildcard_topk needs a non-* literal")
        snap = self._snapshot()
        if "*" not in pattern:
            terms = tokenize(pattern)
        else:
            terms = self._expand_vocab(
                snap, "^" + ".*".join(_re.escape(p)
                                      for p in pattern.split("*")) + "$",
                max_expansions, caller="wildcard_topk")
        return self._topk(snap, sorted(set(terms)), k, method)

    def _expand_vocab(self, snap: Snapshot, regex: str, max_expansions: int,
                      caller: str) -> list[str]:
        """Top-``max_expansions`` vocabulary terms matching an anchored
        regex, by (df DESC, term) — the Lucene MultiTermQuery rewrite
        rule shared by wildcard_topk and regexp_topk. One small Spark
        job over the bucketed vocab sidecar's identity rows (a full
        vocab scan is inherent: arbitrary regexes have no sort-order
        handle)."""
        self._require_vocab(snap, caller)
        vdf = self.spark.read.parquet(self.store.vocab_dir_for(snap.epoch))
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
        the normal budget-gated BM25 path, like prefix_topk (one
        snapshot, no summary routing). The regex dialect is Spark's
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
        snap = self._snapshot()
        expansions = self._expand_vocab(snap, f"^(?:{regex})$",
                                        max_expansions, caller="regexp_topk")
        return self._topk(snap, sorted(expansions), k, method)

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
        return _st(self.spark, engine._snapshot(), qtext, docs_df, top=top,
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
        lists = dict(engine._positions_of(
            snap, terms, np.array([d for d, _ in base], dtype=np.int64)))
        out = []
        for doc, score in base:
            bonus = 0.0
            span = min_cover_span(lists[doc]) if doc in lists else None
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
        terms = sorted(set(tokenize(query)))
        if len(terms) < 2:
            raise ValueError("span_near_topk needs >= 2 distinct terms")
        if self._over_budget(snap, terms):
            from .phrase import score_phrase_batch

            return _ranked_hits(score_phrase_batch(
                self.spark, snap, None, [(0, " ".join(terms))], k=k,
                slop=slop, match_fn=span_match))
        arrays = self._load_term_arrays(snap, terms)
        cand = _conjunction(arrays, terms)
        if not len(cand):
            return []
        return _lazy_verified(snap, arrays, cand, k, lambda batch: np.array(
            [d for d, lists in self._positions_of(snap, terms, batch)
             if span_match(lists, slop)], dtype=np.int64))

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
        if engine._over_budget(snap, all_terms):
            return _ranked_hits(score_synonym_batch(
                self.spark, snap, [{"query_id": 0, "groups": groups}], k=k))
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
