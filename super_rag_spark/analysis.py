"""Shared analyzer: tokenizer, doc ids, BM25 math.

This module is the single source of truth for the "encoder" of the
sparse engine (replacing the reference's dense encoder config,
/root/reference/models/ingest.py:17-46): the tokenizer spec and the
BM25 (k1, b) parameters. Both the pure-Python oracle and the Spark
pipeline import from here so they can never drift.

Determinism requirements (BASELINE.json north_rule):
- doc_id is content-addressed from the url (sha1 prefix), never UUID4
  (the reference's UUID4 ids, /root/reference/service/embedding.py:196,
  would break rank-identical re-runs — SURVEY.md §2.8 F6).
- score summation order is fixed: contributions are summed in
  term-ascending order on both the oracle and the Spark side.
"""

from __future__ import annotations

import functools
import hashlib
import math
import re

# BM25 parameters (textbook defaults; SURVEY.md §5.1)
K1 = 1.2
B = 0.75

# Posting-block size (docs per block; block-max metadata per block)
BLOCK_SIZE = 128

# Term-hash buckets for the postings table partitioning (local default;
# a 1000-executor deployment would use e.g. 4096)
N_BUCKETS = 32

# Head-term salting: terms with df > SALT_DF_THRESHOLD get split into
# SALT_COUNT sub-groups by the *top bits* of doc_id, so salt ranges are
# contiguous and globally sorted (concatenating salt groups in salt
# order yields sorted, non-overlapping posting blocks — WAND-safe).
SALT_DF_THRESHOLD = 100_000
SALT_COUNT = 16  # must be a power of two
DOC_ID_BITS = 60  # doc_id = 15 hex chars of sha1(url) → uniform in [0, 2^60)

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    """Lowercase alnum tokenizer.

    Replaces the reference's tiktoken cl100k_base token counting
    (/root/reference/service/embedding.py:124-127) with a deterministic
    dependency-free analyzer. Spark equivalent (JVM-side, no UDF):
    ``F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != "")``.
    DuckDB oracle equivalent on clean text: ``string_split(text, ' ')``.
    """
    return _TOKEN_RE.findall(text.lower())


# byte -> its lowercase form when it is ASCII [A-Za-z0-9], else 0 (a
# separator): tokenize's lowercasing and split for ASCII text
_ALNUM_LOWER = bytes(c | 0x20 if chr(c).isascii() and chr(c).isalnum() else 0
                     for c in range(256))


def term_counts(texts: list):
    """:func:`tokenize` of every text of a batch, counted per doc in
    batch kernels: no Python object per token. Returns int64 arrays
    (doc, term_id, tf), one row per distinct term of a doc (``doc`` is
    the text's index, ascending), and each text's token count ``dl``.
    None counts as the empty text.

    A text with a non-ASCII character is lowercased by ``str.lower``,
    as :func:`tokenize` does, so Unicode lowercasing has one definition;
    in its UTF-8 bytes every non-ASCII character is bytes >= 0x80, which
    the byte table splits on like tokenize's regex. The batch's texts'
    bytes are then joined by ``"\\n"`` (a separator, so no token crosses a
    doc), lowercased and split with a 256-entry byte table
    (``_ALNUM_LOWER``), the tokens dictionary-encoded by pyarrow, each
    distinct term hashed once (:func:`term_ids`), and the (doc, term)
    pairs counted by one ``np.unique``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    raw = [t.lower().encode("utf-8", "surrogatepass")
           if t and not t.isascii() else (t or "").encode("ascii")
           for t in texts]
    n_docs = len(raw)
    low = np.frombuffer(b"\n".join(raw).translate(_ALNUM_LOWER), dtype=np.uint8)
    alnum = low != 0
    edge = np.diff(alnum.view(np.int8), prepend=0, append=0)
    starts, ends = np.flatnonzero(edge == 1), np.flatnonzero(edge == -1)
    lens = np.fromiter(map(len, raw), np.int64, n_docs)
    doc_starts = np.cumsum(lens + 1) - lens - 1
    doc = np.searchsorted(doc_starts, starts, side="right") - 1
    dl = np.bincount(doc, minlength=n_docs).astype(np.int64)
    if not len(starts):
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, empty, dl
    offsets = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(ends - starts, out=offsets[1:])
    tokens = pa.Array.from_buffers(pa.large_string(), len(starts), [
        None, pa.py_buffer(offsets), pa.py_buffer(low[alnum])])
    enc = pc.dictionary_encode(tokens)
    ids = term_ids(enc.dictionary)
    n_terms = np.int64(len(ids))
    keys, tfs = np.unique(doc * n_terms + enc.indices.to_numpy(),
                          return_counts=True)
    return keys // n_terms, ids[keys % n_terms], tfs.astype(np.int64), dl


_BOOST_RE = re.compile(r"\^(\d+(?:\.\d+)?)$")


def parse_weighted_query(query: str) -> dict[str, float]:
    """Lucene-style per-term boosts: ``"stream^2 batch window^0.5"`` ->
    ``{"stream": 2.0, "batch": 1.0, "window": 0.5}``. A clause's boost
    applies to every token the analyzer yields from it (``"foo-bar^2"``
    boosts both ``foo`` and ``bar``); duplicate terms keep the LAST
    clause's weight; unweighted clauses get 1.0. Term order in the dict
    is insertion order — scorers must sort (they do)."""
    out: dict[str, float] = {}
    for clause in query.split():
        m = _BOOST_RE.search(clause)
        w = float(m.group(1)) if m else 1.0
        body = clause[: m.start()] if m else clause
        for t in tokenize(body):
            out[t] = w
    return out


def doc_id_for_url(url: str) -> int:
    """Deterministic 60-bit doc id: int(sha1(url)[:15 hex], 16).

    Spark equivalent:
    ``F.conv(F.substring(F.sha1("url"), 1, 15), 16, 10).cast("long")``.
    """
    return int(hashlib.sha1(url.encode("utf-8")).hexdigest()[:15], 16)


# --- XXH64 (pure stdlib): the Python mirror of Spark's xxhash64() ----------
# r6 optimization: term ids moved from sha1-prefix to xxhash64. The JVM
# side of the old construction (sha1 -> 40-char hex string -> substring
# -> BigInteger conv) dominated the tf aggregation stage of the index
# build (measured 14.7 s vs 2.5 s for the same stage with xxhash64 at
# 1 core / 10k docs — the hex+conv allocations, not the hashing, were
# the cost). xxhash64 is a Spark built-in returning int64 directly.
# Collisions: 64 bits vs ~10^9 distinct web terms -> ~1e-10 birthday
# probability, same class as before.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, inp: int) -> int:
    return (_rotl((acc + inp * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """Reference XXH64 over ``data`` (unsigned 64-bit result). Matches
    Spark's ``xxhash64()`` built-in (which uses seed 42) bit-for-bit —
    asserted against the JVM in tests/test_analysis.py."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _xxh64_round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xxh64_round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _xxh64_round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _xxh64_round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxh64_round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = _xxh64_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        k = (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h ^ k, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


@functools.lru_cache(maxsize=1 << 20)
def term_id_for(term: str) -> int:
    """Deterministic signed 64-bit term id = Spark ``xxhash64(term)``
    (seed 42, over the UTF-8 bytes).

    Posting tables key on term_id, never the term string: the build
    pipeline pushes tens of millions of rows through Arrow into Python
    workers, and materializing that many Python str objects costs more
    than the entire block encode (measured ~3x). The id is SIGNED
    (Spark long); every modulo uses pmod/Python %, both non-negative.
    Spark equivalent: ``F.xxhash64(F.col("term"))``. Cached: the driver
    query path hashes the same head terms on every query.
    """
    h = xxh64(term.encode("utf-8"), 42)
    return h - (1 << 64) if h >= (1 << 63) else h


def term_ids(terms):
    """:func:`term_id_for` of each of ``terms`` (a list of str or a
    pyarrow string array) as an int64 NumPy array, uncached. Terms
    under 32 UTF-8 bytes (nearly all) hash in NumPy uint64 lanes, all
    at once: XXH64's short-input path is 8-byte, 4-byte and 1-byte
    steps over the zero-padded bytes, each applied only where the term
    still has that many bytes left. Longer terms take :func:`xxh64`."""
    import numpy as np
    import pyarrow as pa

    from .codec import binary_buffers

    u = np.uint64
    if not isinstance(terms, pa.Array):
        terms = pa.array(terms, pa.string())
    off, data = binary_buffers(terms)
    off = off.astype(np.int64)
    lens = np.diff(off)
    out = np.empty(len(lens), dtype=np.uint64)
    for i in np.flatnonzero(lens >= 32).tolist():
        out[i] = xxh64(data[off[i]:off[i + 1]].tobytes(), 42)
    short = np.flatnonzero(lens < 32)
    if len(short):
        # each short term's bytes, zero-padded to one 32-byte row
        n = lens[short]
        row = np.repeat(np.arange(len(short)), n)
        col = np.arange(int(n.sum())) - np.repeat(np.cumsum(n) - n, n)
        raw = np.zeros((len(short), 32), dtype=np.uint8)
        raw[row, col] = data[np.repeat(off[short], n) + col]
        rows = np.arange(len(short))

        def rotl(x, r):
            return (x << u(r)) | (x >> u(64 - r))

        with np.errstate(over="ignore"):
            h = u(42 + _P5) + n.astype(np.uint64)
            lane8 = raw.view("<u8")
            for k in range(3):
                kk = rotl(lane8[:, k] * u(_P2), 31) * u(_P1)
                h = np.where(n >= 8 * (k + 1),
                             rotl(h ^ kk, 27) * u(_P1) + u(_P4), h)
            i = n & ~7
            lane4 = raw.view("<u4")[rows, i >> 2].astype(np.uint64)
            four = n - i >= 4
            h = np.where(four, rotl(h ^ (lane4 * u(_P1)), 23) * u(_P2) + u(_P3), h)
            i = i + 4 * four
            for j in range(3):
                byte = raw[rows, np.minimum(i + j, 31)].astype(np.uint64)
                h = np.where(i + j < n, rotl(h ^ (byte * u(_P5)), 11) * u(_P1), h)
            h ^= h >> u(33)
            h *= u(_P2)
            h ^= h >> u(29)
            h *= u(_P3)
            h ^= h >> u(32)
        out[short] = h
    return out.view(np.int64)


def salt_for_doc_id(doc_id: int, salt_count: int = SALT_COUNT) -> int:
    """Contiguous-range salt = top log2(salt_count) bits of doc_id."""
    shift = DOC_ID_BITS - (salt_count.bit_length() - 1)
    return doc_id >> shift


def idf(n_docs: int, df: int) -> float:
    """BM25+ IDF: ln((N - df + 0.5)/(df + 0.5) + 1); always positive.
    The one logarithm of every scorer: the distributed plans get it
    computed here, as a column, because Spark's ``log`` and NumPy's
    ``np.log`` differ from ``math.log`` in the last ulp for some
    arguments."""
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_term_score(tf: int, dl: int, avgdl: float, n_docs: int, df: int,
                    k1: float = K1, b: float = B) -> float:
    """Single-term BM25 contribution, the scalar reference (the oracle
    scores with it). The NumPy kernel ``query/wand.bm25_contrib`` and
    the Catalyst ``query/scoring.contribution_expr`` use the same
    operation order and the same :func:`idf`, so all three agree bit
    for bit (tests/test_analysis.py)."""
    return idf(n_docs, df) * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def chunk_id_for(url: str, chunk_index: int) -> str:
    """Content-addressed chunk id (SURVEY.md §2.8 F6):
    sha1(url + ":" + chunk_index) hex."""
    return hashlib.sha1(f"{url}:{chunk_index}".encode("utf-8")).hexdigest()
