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
  blocks whose upper bound cannot beat it. It reads each term's block
  rows as one Arrow record batch, bounds from its metadata columns, and
  decodes only the blocks it cannot skip. It runs on the driver and
  inside the distributed per-salt-range plan (query/scoring.py).
- The per-posting cursor WAND and the brute-force scorer that
  tests/test_wand.py checks :func:`wand_topk` against live in
  tests/wand_reference.py.

Safety margin: blocks are skipped only when the upper bound is below
theta - 1e-9; exact score ties (which the rank order breaks by doc_id
asc) therefore always get fully evaluated.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..analysis import B, K1, idf
from ..codec import decode_blocks_batch, encoded_blocks

_EPS = 1e-9


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


def wand_topk(term_blocks: dict[str, tuple[int, pa.RecordBatch]],
              n_docs: int, avgdl: float, k: int, k1: float = K1, b: float = B,
              doc_range: tuple[int, int] | None = None,
              allowed: np.ndarray | None = None,
              approx: float = 1.0,
              deleted: np.ndarray | None = None) -> list[tuple[int, float]]:
    """Exact block-max top-k, RANGE-VECTORIZED (r4).

    ``term_blocks``: {term: (df, block rows)}, the rows a record batch
    of the postings table in any order. Blocks may span several
    segments (``seg``); each (term, seg) run is doc-disjoint, and a doc
    lives in exactly one segment per term. Returns [(doc_id, score)]
    ranked by (round(score, 9) desc, doc_id asc), each score summed in
    term-ascending (oracle) order. Same contract as the per-posting
    cursor WAND it replaced on the hot paths (tests/wand_reference.py,
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
    decodes one block.
    ``doc_range``: optional [lo, hi) doc-id window (the per-salt-range
    distributed plan). ``allowed``: optional sorted candidate doc_ids
    (P7 metadata filter); other docs are invisible and block skipping is
    unaffected. ``approx``: threshold over-scaling factor F (Lucene's
    WAND early-termination knob), 1.0 = exact; every doc skipped under
    F > 1 scores < F * the returned k-th score (range bounds dominate
    per-doc bounds).
    ``deleted``: optional sorted doc_ids (pending tombstones), masked at
    the same point as ``allowed``; df and every block bound are those
    of the unmasked blocks.
    """
    lo_w, hi_w = doc_range if doc_range is not None else (None, None)

    # ---- per-(term, seg) runs: row indices into the term's batch,
    # doc-sorted, with per-block bounds
    runs: list[dict] = []
    for t, (df, batch) in sorted(term_blocks.items()):
        if not batch.num_rows:
            continue
        col = {c: batch.column(c).to_numpy() for c in (
            "seg", "first_doc_id", "last_doc_id", "block_max_tf",
            "block_min_dl")}
        rows = np.lexsort((col["first_doc_id"], col["seg"]))
        if lo_w is not None:
            rows = rows[(col["last_doc_id"][rows] >= lo_w)
                        & (col["first_doc_id"][rows] < hi_w)]
        if not len(rows):
            continue
        firsts = col["first_doc_id"][rows]
        lasts = col["last_doc_id"][rows]
        if lo_w is not None:
            firsts = np.maximum(firsts, lo_w)
            lasts = np.minimum(lasts, hi_w - 1)
        idf_val = idf(n_docs, df)
        ubs = bm25_contrib(idf_val, col["block_max_tf"][rows],
                           col["block_min_dl"][rows], avgdl, k1, b)
        segs = col["seg"][rows]
        cuts = np.flatnonzero(segs[1:] != segs[:-1]) + 1
        for a, z in zip([0, *cuts.tolist()], [*cuts.tolist(), len(rows)]):
            runs.append({"term": t, "idf": idf_val, "batch": batch,
                         "rows": rows[a:z], "firsts": firsts[a:z],
                         "lasts": lasts[a:z], "ubs": ubs[a:z]})
    if not runs:
        return []

    # ---- elementary ranges [edges[i], edges[i+1]) + per-range bounds
    edges = np.unique(np.concatenate(
        [r["firsts"] for r in runs] + [r["lasts"] + 1 for r in runs]))
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
        # each block's bound over the ranges it spans, (range, bound)
        # pairs expanded by repeat: a run's blocks are disjoint, so a
        # term yields at most one pair per range and run
        tr = term_runs[term]
        a_idx = np.searchsorted(
            edges, np.concatenate([r["firsts"] for r in tr]), "right") - 1
        b_idx = np.searchsorted(
            edges, np.concatenate([r["lasts"] for r in tr]), "right") - 1
        span = b_idx - a_idx + 1
        idx = np.repeat(a_idx - np.cumsum(span) + span, span) + np.arange(
            int(span.sum()))
        tarr = np.zeros(n_ranges, dtype=np.float64)
        np.maximum.at(tarr, idx, np.repeat(
            np.concatenate([r["ubs"] for r in tr]), span))
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
            # the blocks any hit interval overlaps: a +1/-1 per span
            cover = np.zeros(len(run["rows"]) + 1, dtype=np.int64)
            np.add.at(cover, i0s[hits], 1)
            np.add.at(cover, i1s[hits], -1)
            sel = run["rows"][np.cumsum(cover[:-1]) > 0]
            docs, tfs, dls, _ns = decode_blocks_batch(
                encoded_blocks(run["batch"].take(sel)))
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
