"""Driver-side BM25 scoring: one NumPy kernel, one accumulate-and-rank
path over decoded arrays, and the block-max WAND top-k.

- :func:`bm25_contrib` is the BM25 kernel. Every driver contribution and
  every WAND block bound goes through it, with idf from
  ``analysis.idf`` (``math.log``) as the only logarithm, so its floats
  equal ``analysis.bm25_term_score`` and the Catalyst mirror
  ``scoring.contribution_expr`` bit for bit (tests/test_analysis.py).
- :func:`accumulate_scores` sums the kernel over decoded per-term
  arrays ``{term: (df, docs, tfs, dls)}`` in term-ascending (oracle)
  order, with optional per-term ``weights``, ``msm``, ``candidates`` and
  the ``deleted`` (pending tombstones) mask; :func:`vectorized_topk_arrays`
  ranks its output with :func:`rank_topk`. This is the engine's default
  ``method="vectorized"`` and the scorer of every other driver query.
- :func:`wand_topk` is the range-vectorized block-max WAND over ENCODED
  blocks (``method="wand"``): instead of scoring every posting it keeps a
  running threshold (theta = k-th best score) and never decodes the
  blocks whose upper bound cannot beat it. It runs on the driver and
  inside the distributed per-salt-range plan (query/scoring.py).
- :func:`wand_topk_cursor` (per-posting pivot/seek WAND) and
  :func:`bruteforce_topk` are kept as the references tests/test_wand.py
  compares against.

Safety margin: blocks are skipped only when the upper bound is below
theta - 1e-9; exact score ties (which the rank order breaks by doc_id
asc) therefore always get fully evaluated.
"""

from __future__ import annotations

import heapq

import numpy as np

from ..analysis import B, K1, bm25_term_score, idf
from ..codec import decode_block, decode_blocks_batch

_EPS = 1e-9
_INF = np.iinfo(np.int64).max


def bm25_contrib(idf_val: float, tfs, dls, avgdl: float, k1: float = K1,
                 b: float = B) -> np.ndarray:
    """The BM25 kernel: per-posting contributions for one term. Same
    operation order as ``analysis.bm25_term_score``, so equal floats for
    the same ``idf_val``. With (block_max_tf, block_min_dl) it is the
    block's WAND upper bound: the tf-part grows with tf and shrinks with
    dl, so that corner dominates every posting in the block."""
    tfs = np.asarray(tfs, dtype=np.float64)
    dls = np.asarray(dls, dtype=np.float64)
    return idf_val * (tfs * (k1 + 1.0)) / (tfs + k1 * ((1.0 - b) + b * dls / avgdl))


class TermCursor:
    """Forward iterator over one term's posting blocks with block skipping.

    ``blocks`` must be sorted by first_doc_id with non-overlapping doc
    ranges (guaranteed by the contiguous-range salting in index/build.py).
    ``doc_range``: optional [lo, hi) doc-id window — postings outside it
    are invisible (the distributed per-salt-range WAND uses this so each
    range task scores exactly its own stripe of the doc space).
    """

    __slots__ = ("term", "df", "blocks", "bi", "pos", "docs", "tfs", "dls",
                 "term_max", "_idf", "_ubs", "_lo", "_hi", "_allowed")

    def __init__(self, term: str, df: int, blocks: list[dict], n_docs: int,
                 avgdl: float, k1: float, b: float,
                 doc_range: tuple[int, int] | None = None,
                 allowed: np.ndarray | None = None):
        self.term = term
        self.df = df
        self._allowed = allowed  # sorted int64; None = no candidate mask
        self._lo, self._hi = doc_range if doc_range else (None, None)
        if doc_range:
            blocks = [blk for blk in blocks
                      if blk["last_doc_id"] >= self._lo and blk["first_doc_id"] < self._hi]
        self.blocks = blocks
        self._idf = idf(n_docs, df)
        self._ubs = bm25_contrib(
            self._idf, [blk["block_max_tf"] for blk in blocks],
            [blk["block_min_dl"] for blk in blocks], avgdl, k1, b).tolist()
        self.bi = 0
        self.pos = 0
        self.docs = self.tfs = self.dls = None
        self.term_max = max(self._ubs, default=0.0)
        self._ensure_decoded()

    def _ensure_decoded(self):
        """Decode the current block (applying the doc-range mask) and
        advance past blocks the mask empties entirely."""
        while self.bi < len(self.blocks) and self.docs is None:
            blk = self.blocks[self.bi]
            docs, tfs, dls = decode_block(
                blk["docs_enc"], blk["tfs_enc"], blk["dls_enc"], blk["n"])
            if self._lo is not None:
                keep = (docs >= self._lo) & (docs < self._hi)
                if not keep.all():
                    docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
            if self._allowed is not None and len(docs):
                # candidate restriction (metadata filter, P7): masking
                # only REMOVES postings, so every block upper bound and
                # seek boundary stays valid — skipping is preserved
                keep = np.isin(docs, self._allowed, assume_unique=False)
                if not keep.all():
                    docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
            if len(docs) == 0:
                self.bi += 1
                continue
            self.docs, self.tfs, self.dls = docs, tfs, dls
            if self.pos >= len(docs):
                self.pos = 0

    @property
    def doc(self) -> int:
        if self.bi >= len(self.blocks):
            return _INF
        return int(self.docs[self.pos])

    def block_max(self) -> float:
        return self._ubs[self.bi]

    def block_last(self) -> int:
        return self.blocks[self.bi]["last_doc_id"]

    def contribution(self, avgdl: float, k1: float, b: float) -> float:
        return float(bm25_contrib(self._idf, self.tfs[self.pos],
                                  self.dls[self.pos], avgdl, k1, b))

    def advance(self):
        self.pos += 1
        if self.pos >= len(self.docs):
            self.bi += 1
            self.pos = 0
            self.docs = None
            self._ensure_decoded()

    def seek(self, target: int):
        """Advance to the first posting with doc_id >= target, skipping
        whole blocks via their last_doc_id (never decodes skipped blocks)."""
        while self.bi < len(self.blocks) and self.blocks[self.bi]["last_doc_id"] < target:
            self.bi += 1
            self.pos = 0
            self.docs = None
        if self.bi >= len(self.blocks):
            return
        self._ensure_decoded()
        while self.docs is not None:
            self.pos = int(np.searchsorted(self.docs, target, side="left"))
            if self.pos < len(self.docs):
                return
            self.bi += 1  # target falls in a gap between blocks
            self.pos = 0
            self.docs = None
            self._ensure_decoded()


def wand_topk(term_blocks: dict[str, tuple[int, list[dict]]], n_docs: int,
              avgdl: float, k: int, k1: float = K1, b: float = B,
              doc_range: tuple[int, int] | None = None,
              allowed: np.ndarray | None = None,
              approx: float = 1.0,
              deleted: np.ndarray | None = None) -> list[tuple[int, float]]:
    """Exact block-max top-k, RANGE-VECTORIZED (r4).

    Same contract as :func:`wand_topk_cursor` (the per-posting WAND it
    replaced on the hot paths — kept as the reference implementation and
    asserted rank-identical in tests/test_wand.py). Instead of stepping
    per-posting cursors in Python (~676 ms/query at sf0.1, VERDICT r3
    "What's wrong" note), the doc-id space is cut into the ELEMENTARY
    RANGES induced by all terms' block boundaries; each range carries the
    upper bound sum(per-term max block bound overlapping it) — exactly
    the quantity block-max WAND skips on. Ranges are then evaluated in
    DESCENDING upper-bound order with the fully NumPy-vectorized scorer
    (same float order as vectorized_topk_arrays): theta (k-th best) only
    grows, so the first range whose bound falls below theta - eps proves
    every remaining doc does too — one comparison retires the whole
    tail, and the blocks under it are never decoded. Worst case (theta
    never prunes) equals the vectorized exhaustive path; best case
    decodes one block. ``doc_range``/``allowed``/``approx`` behave as
    documented below; skipped docs under ``approx`` F satisfy the same
    < F * k-th-score bound (range bounds dominate per-doc bounds).
    ``deleted``: optional sorted doc_ids (pending tombstones), masked at
    the same point as ``allowed``; df and every block bound are those
    of the unmasked blocks.
    """
    lo_w, hi_w = doc_range if doc_range is not None else (None, None)

    # ---- per-(term, seg) runs with per-block bounds
    runs: list[dict] = []
    bounds: list[np.ndarray] = []
    for t, (df, blks) in sorted(term_blocks.items()):
        by_seg: dict[int, list[dict]] = {}
        for blk in blks:
            by_seg.setdefault(int(blk.get("seg", 0)), []).append(blk)
        idf_val = idf(n_docs, df)
        for seg in sorted(by_seg):
            run = sorted(by_seg[seg], key=lambda r: r["first_doc_id"])
            if lo_w is not None:
                run = [blk for blk in run if blk["last_doc_id"] >= lo_w
                       and blk["first_doc_id"] < hi_w]
            if not run:
                continue
            firsts = np.array([blk["first_doc_id"] for blk in run],
                              dtype=np.int64)
            lasts = np.array([blk["last_doc_id"] for blk in run],
                             dtype=np.int64)
            if lo_w is not None:
                firsts = np.maximum(firsts, lo_w)
                lasts = np.minimum(lasts, hi_w - 1)
            ubs = bm25_contrib(idf_val, [blk["block_max_tf"] for blk in run],
                               [blk["block_min_dl"] for blk in run],
                               avgdl, k1, b)
            runs.append({"term": t, "df": df, "idf": idf_val, "blocks": run,
                         "firsts": firsts, "lasts": lasts, "ubs": ubs})
            bounds.append(firsts)
            bounds.append(lasts + 1)
    if not runs:
        return []

    # ---- elementary ranges [edges[i], edges[i+1]) + per-range bounds
    edges = np.unique(np.concatenate(bounds))
    n_ranges = len(edges) - 1
    if n_ranges <= 0:  # single doc id across all blocks
        edges = np.array([edges[0], edges[0] + 1], dtype=np.int64)
        n_ranges = 1
    range_ub = np.zeros(n_ranges, dtype=np.float64)
    term_runs: dict[str, list[dict]] = {}
    for r in runs:
        term_runs.setdefault(r["term"], []).append(r)
    terms = sorted(term_runs)
    for term in terms:
        tarr = np.zeros(n_ranges, dtype=np.float64)
        for run in term_runs[term]:
            a_idx = np.searchsorted(edges, run["firsts"], side="right") - 1
            b_idx = np.searchsorted(edges, run["lasts"], side="right") - 1
            for i in range(len(run["blocks"])):
                s = slice(a_idx[i], b_idx[i] + 1)
                np.maximum(tarr[s], run["ubs"][i], out=tarr[s])
        range_ub += tarr  # a doc gets ONE seg's posting per term -> max

    # ---- two passes. Pass 1 seeds theta by fully evaluating the top-S
    # ranges by bound (per-block decode cache — the top ranges are
    # scattered, and several may land in the same head-term block).
    # Pass 2 evaluates EVERY range not provably below theta in ONE
    # vectorized sweep: surviving ranges coalesce into contiguous doc
    # intervals, each run's overlapping block span batch-decodes once.
    # Strong pruning -> pass 2 is tiny; no pruning -> pass 2 IS the
    # exhaustive vectorized plan (the cost floor), never the per-range
    # Python loop.
    order = np.argsort(-range_ub, kind="stable")
    order = order[range_ub[order] > 0.0]
    theta = -np.inf
    best = np.empty(0, dtype=np.float64)  # top-<=k scores so far
    out_docs: list[np.ndarray] = []
    out_scores: list[np.ndarray] = []

    def _evaluate(per_term: list[tuple[np.ndarray, np.ndarray]]) -> None:
        nonlocal theta, best
        if not per_term:
            return
        uniq, scores, _ = _sum_per_doc(per_term)
        out_docs.append(uniq)
        out_scores.append(scores)
        best = np.concatenate([best, scores])
        if len(best) > k:
            best = np.partition(best, len(best) - k)[len(best) - k:]
        if len(best) >= k:
            theta = float(best.min())

    def _contrib_of(term: str, parts) -> tuple[np.ndarray, np.ndarray] | None:
        docs, contrib = _term_contrib(
            term_runs[term][0]["idf"], np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]), avgdl, k1, b,
            allowed, deleted)
        return (docs, contrib) if len(docs) else None

    def _gather(term: str, los_a: np.ndarray, his_a: np.ndarray) -> list:
        """Slices of this term's postings inside each [los[j], his[j])
        interval. Per run: the UNION of overlapping blocks batch-decodes
        exactly once (the intervals are disjoint, but many can land in
        one head-term block — per-interval decoding was the r4 proto's
        3.4 s blow-up); interval slicing is then two vectorized
        searchsorteds over the concatenated (sorted) union."""
        parts = []
        for run in term_runs[term]:
            i0s = np.searchsorted(run["lasts"], los_a, side="left")
            i1s = np.searchsorted(run["firsts"], his_a, side="left")
            hits = np.flatnonzero(i1s > i0s)
            if not len(hits):
                continue
            mask = np.zeros(len(run["blocks"]), dtype=bool)
            for j in hits.tolist():
                mask[i0s[j]:i1s[j]] = True
            sel = np.flatnonzero(mask).tolist()
            docs, tfs, dls, _ns = decode_blocks_batch(
                [run["blocks"][i] for i in sel])
            s0s = np.searchsorted(docs, los_a[hits], side="left")
            s1s = np.searchsorted(docs, his_a[hits], side="left")
            for s0, s1 in zip(s0s.tolist(), s1s.tolist()):
                if s1 > s0:
                    parts.append((docs[s0:s1], tfs[s0:s1], dls[s0:s1]))
        return parts

    def _eval_intervals(los_a: np.ndarray, his_a: np.ndarray) -> None:
        per_term = []
        for term in terms:  # ascending — the oracle's sum order
            parts = _gather(term, los_a, his_a)
            if parts and (pc := _contrib_of(term, parts)) is not None:
                per_term.append(pc)
        _evaluate(per_term)

    # pass 1: top-S scattered ranges seed theta
    seed_n = min(len(order), max(256, 4 * k))
    seed = order[:seed_n]
    _eval_intervals(edges[seed], edges[seed + 1])

    # pass 2: one sweep over everything theta cannot retire (coalesced
    # into contiguous intervals; seed ranges stay punched out — their
    # docs are already evaluated)
    rest = order[seed_n:]
    if len(best) >= k:
        rest = rest[range_ub[rest] > theta * approx - _EPS]
    if len(rest):
        rids = np.sort(rest)
        brk = np.flatnonzero(np.diff(rids) != 1)
        iv_s = np.concatenate([[0], brk + 1])
        iv_e = np.concatenate([brk, [len(rids) - 1]])
        _eval_intervals(edges[rids[iv_s]], edges[rids[iv_e] + 1])

    if not out_docs:
        return []
    # ranges are disjoint -> the concatenated docs are unique
    return rank_topk(np.concatenate(out_docs), np.concatenate(out_scores), k)


def wand_topk_cursor(term_blocks: dict[str, tuple[int, list[dict]]], n_docs: int,
                     avgdl: float, k: int, k1: float = K1, b: float = B,
                     doc_range: tuple[int, int] | None = None,
                     allowed: np.ndarray | None = None,
                     approx: float = 1.0) -> list[tuple[int, float]]:
    """Exact block-max WAND (per-posting cursor reference implementation).

    term_blocks: {term: (df, [block rows])}. Blocks may span several
    SEGMENTS (seg column, Lucene-style append segments — index/merge.py
    mode="segment"): each (term, seg) run is doc-sorted and
    non-overlapping, but runs of different segs may overlap in doc
    range, so ONE CURSOR PER (term, seg) RUN is opened. A doc lives in
    exactly one segment per term (upserts physically remove the old
    copy at merge time), so at most one cursor of a term ever sits on a
    given doc — the pivot bound and the term-ascending sum order are
    unaffected.
    Returns [(doc_id, score)] ranked by (round(score,9) desc, doc_id asc).
    Full evaluation sums contributions in term-ascending order — the
    same float addition order as the oracle and the Spark scorer.
    ``doc_range``: optional [lo, hi) window (per-salt-range distribution).
    ``allowed``: optional sorted int64 candidate doc_ids (P7 metadata
    filter); other docs are invisible, block skipping is unaffected.
    ``approx``: threshold over-scaling factor (Lucene's WAND "F"
    early-termination knob). 1.0 = exact (the default everywhere);
    F > 1 skips any doc whose upper bound is below F*theta, trading
    bounded error for speed — every SKIPPED doc's true score is
    < F * (the returned k-th score), so returned docs are exact-scored
    and misses are quantifiably close.
    """
    cursors = []
    for t, (df, blks) in sorted(term_blocks.items()):
        runs: dict[int, list[dict]] = {}
        for blk in blks:
            runs.setdefault(int(blk.get("seg", 0)), []).append(blk)
        for seg in sorted(runs):
            run = sorted(runs[seg], key=lambda r: r["first_doc_id"])
            cursors.append(TermCursor(t, df, run, n_docs, avgdl, k1, b,
                                      doc_range, allowed))
    cursors = [c for c in cursors if c.blocks]
    if not cursors:
        return []

    heap: list[tuple[float, int]] = []  # min-heap of (score, -doc_id), size <= k
    evaluated: list[tuple[int, float]] = []

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else -np.inf

    while True:
        live = [c for c in cursors if c.doc != _INF]
        if not live:
            break
        live.sort(key=lambda c: c.doc)

        # pivot: first prefix whose term-max sum can beat theta
        acc, pivot_idx = 0.0, None
        th = theta() * approx if len(heap) >= k else -np.inf
        for i, c in enumerate(live):
            acc += c.term_max
            if acc > th - _EPS:
                pivot_idx = i
                break
        if pivot_idx is None:
            break
        pivot_doc = live[pivot_idx].doc

        if live[0].doc == pivot_doc:
            group = [c for c in live if c.doc == pivot_doc]
            bm = sum(c.block_max() for c in group)
            # remaining pivot-prefix terms not at pivot_doc can't contribute
            if bm > th - _EPS:
                group.sort(key=lambda c: c.term)  # oracle sum order
                score = 0.0
                for c in group:
                    score += c.contribution(avgdl, k1, b)
                for c in group:
                    c.advance()
                evaluated.append((pivot_doc, score))
                if len(heap) < k:
                    heapq.heappush(heap, (score, -pivot_doc))
                elif score > heap[0][0]:
                    heapq.heapreplace(heap, (score, -pivot_doc))
            else:
                # block-max skip: nothing in [pivot_doc, next_boundary) can win
                boundary = min(c.block_last() for c in group) + 1
                nxt = min((c.doc for c in live if c.doc > pivot_doc), default=_INF)
                target = min(boundary, nxt)
                for c in group:
                    c.seek(target)
        else:
            # advance the lagging cursor with the largest upper bound
            lag = max((c for c in live[:pivot_idx] if c.doc < pivot_doc),
                      key=lambda c: c.term_max)
            lag.seek(pivot_doc)

    evaluated.sort(key=lambda it: (-round(it[1], 9), it[0]))
    return evaluated[:k]


def _in_sorted(ids: np.ndarray, docs: np.ndarray) -> np.ndarray:
    """Which of ``docs`` occur in the sorted array ``ids``."""
    if not len(ids):
        return np.zeros(len(docs), dtype=bool)
    return ids[np.minimum(np.searchsorted(ids, docs), len(ids) - 1)] == docs


def _term_contrib(idf_val: float, docs, tfs, dls, avgdl: float, k1: float,
                  b: float, allowed=None, deleted=None):
    """One term's postings a query may see, and their kernel
    contributions: doc in the sorted ``allowed`` set (when given) and
    not in the sorted ``deleted`` set. Masking only removes postings, so
    block bounds computed over the unmasked blocks stay valid."""
    keep = None if allowed is None else _in_sorted(allowed, docs)
    if deleted is not None and len(deleted):
        live = ~_in_sorted(deleted, docs)
        keep = live if keep is None else keep & live
    if keep is not None and not keep.all():
        docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
    return docs, bm25_contrib(idf_val, tfs, dls, avgdl, k1, b)


def _sum_per_doc(per_term: list[tuple[np.ndarray, np.ndarray]]):
    """Per-doc sums of per-term (docs, contrib) pairs, added in list
    (term-ascending) order: the oracle's float addition order, since a
    doc gets at most one contribution per term. Returns (sorted unique
    docs, scores, each posting's index into them)."""
    uniq, inv = np.unique(np.concatenate([d for d, _ in per_term]),
                          return_inverse=True)
    scores = np.zeros(len(uniq), dtype=np.float64)
    off = 0
    for docs, contrib in per_term:
        np.add.at(scores, inv[off:off + len(docs)], contrib)
        off += len(docs)
    return uniq, scores, inv


def accumulate_scores(term_arrays: dict[str, tuple], n_docs: int,
                      avgdl: float, k1: float = K1, b: float = B,
                      candidates: np.ndarray | None = None, *,
                      weights: dict[str, float] | None = None, msm: int = 1,
                      deleted: np.ndarray | None = None
                      ) -> tuple[np.ndarray, np.ndarray]:
    """Score decoded per-term arrays ``{term: (df, docs, tfs, dls)}``
    without ranking -> (sorted unique doc_ids, scores).

    score(doc) = sum over terms, ascending, of w_t * bm25_t(doc), with
    idf from the UNMASKED df and GLOBAL corpus stats (filtered-search
    semantics). ``weights``: per-term boosts (Lucene clause boost; absent
    terms weigh 1.0, and a zero-weight term still counts as a match).
    ``msm``: drop docs matching fewer distinct terms. ``candidates``:
    sorted doc_ids, the only docs scored. ``deleted``: sorted doc_ids of
    pending tombstones, never scored."""
    per_term: list[tuple[np.ndarray, np.ndarray]] = []
    for term in sorted(term_arrays):
        df, docs, tfs, dls = term_arrays[term]
        docs, contrib = _term_contrib(idf(n_docs, df), docs, tfs, dls,
                                      avgdl, k1, b, candidates, deleted)
        if not len(docs):
            continue
        w = 1.0 if weights is None else float(weights.get(term, 1.0))
        per_term.append((docs, contrib if w == 1.0 else contrib * w))
    if not per_term:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    uniq, scores, inv = _sum_per_doc(per_term)
    if msm > 1:
        keep = np.bincount(inv, minlength=len(uniq)) >= msm
        uniq, scores = uniq[keep], scores[keep]
    return uniq, scores


def rank_topk(docs: np.ndarray, scores: np.ndarray,
              k: int) -> list[tuple[int, float]]:
    """The top ``k`` of unique (doc, score) arrays, ranked by
    (round(score, 9) desc, doc_id asc)."""
    kk = min(k, len(docs))
    if kk <= 0:
        return []
    # threshold preselect: keep EVERY doc whose score could reach rank k
    # after 9-dp rounding (ties broken by doc_id must see all tied docs)
    kth = np.partition(scores, len(scores) - kk)[len(scores) - kk]
    cand = np.flatnonzero(scores >= kth - _EPS)
    order = sorted(cand.tolist(),
                   key=lambda i: (-round(float(scores[i]), 9), int(docs[i])))
    return [(int(docs[i]), float(scores[i])) for i in order[:kk]]


def vectorized_topk_arrays(term_arrays: dict[str, tuple], n_docs: int,
                           avgdl: float, k: int, k1: float = K1,
                           b: float = B,
                           candidates: np.ndarray | None = None, *,
                           weights: dict[str, float] | None = None,
                           msm: int = 1, deleted: np.ndarray | None = None
                           ) -> list[tuple[int, float]]:
    """Exact top-k over decoded per-term arrays: :func:`rank_topk` of
    :func:`accumulate_scores`, whose parameters these are."""
    return rank_topk(*accumulate_scores(
        term_arrays, n_docs, avgdl, k1, b, candidates, weights=weights,
        msm=msm, deleted=deleted), k)


def bruteforce_topk(term_blocks: dict[str, tuple[int, list[dict]]], n_docs: int,
                    avgdl: float, k: int, k1: float = K1, b: float = B) -> list[tuple[int, float]]:
    """Reference scorer for WAND equivalence tests: decode everything,
    score every candidate, term-ascending sum order."""
    scores: dict[int, float] = {}
    for term in sorted(term_blocks):
        df, blocks = term_blocks[term]
        for blk in blocks:
            docs, tfs, dls = decode_block(blk["docs_enc"], blk["tfs_enc"],
                                          blk["dls_enc"], blk["n"])
            for d, tf, dl in zip(docs, tfs, dls):
                scores[int(d)] = scores.get(int(d), 0.0) + bm25_term_score(
                    int(tf), int(dl), avgdl, n_docs, df, k1, b)
    ranked = sorted(scores.items(), key=lambda it: (-round(it[1], 9), it[0]))
    return ranked[:k]
