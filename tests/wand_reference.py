"""Reference scorers the WAND equivalence tests compare against: a
per-posting cursor WAND and a brute-force scorer over the same encoded
block dicts ``query/wand.py``'s ``wand_topk`` takes."""

from __future__ import annotations

import heapq

import numpy as np

from super_rag_spark.analysis import B, K1, bm25_term_score, idf
from super_rag_spark.codec import decode_block
from super_rag_spark.query.wand import _EPS, bm25_contrib

_INF = np.iinfo(np.int64).max


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


def wand_topk_cursor(term_blocks: dict[str, tuple[int, list[dict]]], n_docs: int,
                     avgdl: float, k: int, k1: float = K1, b: float = B,
                     doc_range: tuple[int, int] | None = None,
                     allowed: np.ndarray | None = None,
                     approx: float = 1.0) -> list[tuple[int, float]]:
    """Exact block-max WAND (per-posting cursor reference implementation).

    term_blocks: {term: (df, [block rows])}. Blocks may span several
    SEGMENTS (seg column, Lucene-style append segments — index/merge.py
    merge_append): each (term, seg) run is doc-sorted and
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
