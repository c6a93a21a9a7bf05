"""Posting-list codec: delta-gap + LEB128 varint, NumPy-vectorized.

The reference stores vectors in external DBs and has no index format of
its own (SURVEY.md §1.1 "index/collection" row); this codec is the
from-scratch replacement required by BASELINE.json north_star:
"per-partition posting lists (term -> delta-gap + varint-compressed
docID/tf blocks with block-max metadata)".

Everything here is pure NumPy over arrays (no per-row Python), so it
runs inside Arrow-batched Spark tasks at full speed, straight from a
record batch's buffers (:func:`encoded_blocks`).

Encoding of one block (<= BLOCK_SIZE postings of one term):
  doc_ids: sorted ascending -> delta gaps (first value absolute) -> LEB128
  tfs:     LEB128 as-is
  dls:     per-posting document length, LEB128 as-is (storing dl inline
           removes the doc_stats join from the scoring path entirely —
           the scoring stage is shuffle-free until the final
           per-(query,doc) aggregation; at 100 TB that join would
           otherwise shuffle every candidate posting)
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

LEB_MAX_BYTES = 10  # 64-bit value -> at most 10 LEB128 bytes


def encode_varint_sizes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode an array of non-negative int64 values; also return
    the per-value byte count. LEB128 encodes each value independently,
    so slicing the returned buffer at cumulative-size boundaries yields
    exactly the per-range encodings — this is what lets the block
    builder varint-encode an entire Arrow batch in ONE vectorized pass
    and carve per-block buffers out of it bit-identically."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    # r6 rewrite: the former implementation looped max-byte-count
    # passes with fancy-indexed scatters over the still-active subset
    # (~14 s on a 19 M-value stream of large doc-id gaps). This shape
    # is fully dense: byte count per value from 9 vectorized compares,
    # a (n, max_groups) byte matrix filled column-wise with the
    # continuation bit folded into each column, one boolean compression
    # to drop the unused tail bytes. Bit-identical output (asserted by
    # tests/test_codec.py round-trips + the block bit-identity test);
    # measured ~4 s on the same stream.
    n = v.size
    ngroups = np.ones(n, dtype=np.int64)
    for i in range(1, LEB_MAX_BYTES):
        ngroups += v >= np.uint64(1) << np.uint64(7 * i)
    max_g = int(ngroups.max())
    mat = np.empty((n, max_g), dtype=np.uint8)
    tmp = v.copy()
    for j in range(max_g):
        byte = (tmp & np.uint64(0x7F)).astype(np.uint8)
        byte |= (ngroups > j + 1).astype(np.uint8) << 7  # continuation
        mat[:, j] = byte
        tmp >>= np.uint64(7)
    cols = np.arange(max_g, dtype=np.int64)
    valid = cols[None, :] < ngroups[:, None]
    return mat[valid].tobytes(), ngroups


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative int64 values."""
    return encode_varint_sizes(values)[0]


# input bytes decoded per pass of decode_varint: bounds its temporaries
# (about 40 B per input byte) and leaves a query's streams one pass
_VARINT_PASS_BYTES = 1 << 16


def decode_varint(buf, count: int) -> np.ndarray:
    """Decode ``count`` LEB128 values from ``buf``, bytes or a uint8
    array (vectorized). Each pass takes the whole values in the next
    bytes, shifts every byte's 7 payload bits to their place in its
    value and ORs each value's bytes together: a fixed number of NumPy
    calls per pass, not one round per byte position."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    out = np.empty(count, dtype=np.uint64)
    n = b0 = 0
    while b0 < len(raw):
        chunk = raw[b0:b0 + _VARINT_PASS_BYTES]
        ends = np.flatnonzero(chunk < 0x80)  # each value's last byte
        if not len(ends) or n + len(ends) > count:
            break
        chunk = chunk[:int(ends[-1]) + 1]
        starts = np.empty(len(ends), dtype=np.int64)
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
        shift = np.arange(len(chunk), dtype=np.uint64)
        shift -= np.repeat(starts, ends + 1 - starts).astype(np.uint64)
        shift *= np.uint64(7)
        payload = (chunk & 0x7F).astype(np.uint64) << shift
        out[n:n + len(ends)] = np.bitwise_or.reduceat(payload, starts)
        n += len(ends)
        b0 += len(chunk)
    assert n == count and b0 == len(raw), (
        f"varint stream of {len(raw)} bytes does not hold {count} values")
    return out.view(np.int64)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """First value absolute, rest as gaps (input must be sorted ascending)."""
    ids = np.asarray(sorted_ids, dtype=np.int64)
    gaps = np.empty_like(ids)
    gaps[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.int64))


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> tuple[bytes, bytes, bytes]:
    """Encode one block. doc_ids must already be sorted ascending."""
    return (
        encode_varint(delta_encode(doc_ids)),
        encode_varint(tfs),
        encode_varint(dls),
    )


def decode_block(doc_enc: bytes, tf_enc: bytes, dl_enc: bytes, n: int):
    """Inverse of encode_block -> (doc_ids, tfs, dls) int64 arrays."""
    return (
        delta_decode(decode_varint(doc_enc, n)),
        decode_varint(tf_enc, n),
        decode_varint(dl_enc, n),
    )


def encode_positions_block(doc_ids: np.ndarray, counts: np.ndarray,
                           flat_positions: np.ndarray) -> tuple[bytes, bytes, bytes]:
    """Encode one POSITIONS block (r4 opt-in positional index).

    doc_ids: sorted ascending; counts[i] = number of positions for
    doc i (== tf, always >= 1); flat_positions = concatenation of each
    doc's ascending token positions. Streams: docs delta-varint (first
    absolute), counts plain varint, positions delta-varint with the
    delta RESET to absolute at each doc's first position (so any doc's
    run decodes standalone given the counts)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    flat = np.asarray(flat_positions, dtype=np.int64)
    gaps = np.empty_like(flat)
    if len(flat):
        gaps[0] = flat[0]
        np.subtract(flat[1:], flat[:-1], out=gaps[1:])
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        gaps[starts] = flat[starts]
    return (encode_varint(delta_encode(doc_ids)),
            encode_varint(counts),
            encode_varint(gaps))


def decode_positions_block(docs_enc: bytes, cnt_enc: bytes, pos_enc: bytes,
                           n: int):
    """Inverse of encode_positions_block ->
    (doc_ids, counts, flat_positions) int64 arrays."""
    docs = delta_decode(decode_varint(docs_enc, n))
    counts = decode_varint(cnt_enc, n)
    total = int(counts.sum())
    gaps = decode_varint(pos_enc, total)
    c = np.cumsum(gaps)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    offsets = np.where(starts > 0, c[starts - 1], 0)
    flat = c - np.repeat(offsets, counts)
    return docs, counts, flat


class EncodedBlocks(NamedTuple):
    """Blocks laid end to end: each encoded stream as one uint8 array
    (the blocks' ``docs_enc``/``tfs_enc``/``dls_enc`` bytes in block
    order) and each block's posting count ``n``. A run of consecutive
    rows of a postings table is this with no copy: the byte range of
    each binary column's value buffer that those rows span."""

    docs_enc: np.ndarray
    tfs_enc: np.ndarray
    dls_enc: np.ndarray
    n: np.ndarray


ENC_COLS = ("docs_enc", "tfs_enc", "dls_enc")


def binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(value offsets, value bytes) of a binary or string Arrow array,
    or of a slice of one, as NumPy views: row i's bytes are
    ``data[off[i]:off[i + 1]]``."""
    _, offsets, data = arr.buffers()
    if offsets is None or data is None:  # no rows, or only empty values
        return np.zeros(len(arr) + 1, dtype=np.int64), np.empty(0, np.uint8)
    dtype = (np.int64 if pa.types.is_large_binary(arr.type)
             or pa.types.is_large_string(arr.type) else np.int32)
    off = np.frombuffer(offsets, dtype=dtype)[arr.offset:arr.offset + len(arr) + 1]
    return off, np.frombuffer(data, dtype=np.uint8)


def encoded_blocks(batch: pa.RecordBatch) -> EncodedBlocks:
    """The blocks of a batch of postings rows, or of a slice of one, as
    views of its buffers: no copy."""
    streams = []
    for c in ENC_COLS:
        off, data = binary_buffers(batch.column(c))
        streams.append(data[off[0]:off[-1]])
    return EncodedBlocks(*streams, batch.column("n").to_numpy())


def decode_blocks_batch(blocks: EncodedBlocks):
    """Decode MANY blocks in one vectorized pass.

    LEB128 streams concatenate, so the per-call NumPy dispatch overhead
    (the dominant cost when a head-term query touches thousands of
    blocks) is paid once instead of per block. Delta decode across
    block boundaries: within block b, doc[i] = C[i] - C[start_b - 1]
    where C is the global gap cumsum (each block's first gap is the
    absolute doc id), vectorized with a per-block offset repeat.

    Returns (doc_ids, tfs, dls, ns) int64 arrays; ns = block lengths.
    """
    ns = np.asarray(blocks.n, dtype=np.int64)
    total = int(ns.sum())
    gaps = decode_varint(blocks.docs_enc, total)
    tfs = decode_varint(blocks.tfs_enc, total)
    dls = decode_varint(blocks.dls_enc, total)
    if not total:
        return gaps, tfs, dls, ns
    docs = np.cumsum(gaps, out=gaps)
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    docs -= np.repeat(np.where(starts > 0, docs[starts - 1], 0), ns)
    return docs, tfs, dls, ns
