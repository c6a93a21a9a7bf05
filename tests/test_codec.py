import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from super_rag_spark.codec import (decode_block, decode_varint, delta_decode,
                                   delta_encode, encode_block, encode_varint)


def test_varint_roundtrip_simple():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**60 - 1], dtype=np.int64)
    assert np.array_equal(decode_varint(encode_varint(vals), len(vals)), vals)


def test_varint_empty():
    assert encode_varint(np.array([], dtype=np.int64)) == b""
    assert decode_varint(b"", 0).size == 0


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**60 - 1), min_size=1, max_size=500))
def test_varint_roundtrip_random(vals):
    arr = np.array(vals, dtype=np.int64)
    assert np.array_equal(decode_varint(encode_varint(arr), len(arr)), arr)


@settings(max_examples=50, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**60 - 1), min_size=1, max_size=300))
def test_block_roundtrip_random(ids):
    doc_ids = np.array(sorted(ids), dtype=np.int64)
    rng = np.random.default_rng(0)
    tfs = rng.integers(1, 1000, len(doc_ids))
    dls = rng.integers(1, 100_000, len(doc_ids))
    enc = encode_block(doc_ids, tfs, dls)
    d, t, l = decode_block(*enc, len(doc_ids))
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)


def test_varint_roundtrip_many_passes():
    """A stream several decode passes long, values of every length up to
    2**63 - 1, so values straddle the pass boundaries; a stream with a
    truncated or an extra value fails loudly."""
    import pytest

    rng = np.random.default_rng(3)
    vals = (rng.integers(0, 2**63 - 1, 60_000, dtype=np.int64)
            >> rng.integers(0, 63, 60_000))
    vals[-1] = 2**63 - 1
    enc = encode_varint(vals)
    assert len(enc) > 3 * (1 << 16)
    assert np.array_equal(decode_varint(enc, len(vals)), vals)
    for bad, count in ((enc[:-1], len(vals)), (enc + b"\x01", len(vals))):
        with pytest.raises(AssertionError, match="does not hold"):
            decode_varint(bad, count)


def _random_blocks(seed: int, count: int) -> list[dict]:
    rng = np.random.default_rng(seed)
    blocks = []
    for n in rng.integers(1, 130, count).tolist():
        ids = np.sort(rng.choice(2**60, n, replace=False)).astype(np.int64)
        enc = encode_block(ids, rng.integers(1, 50, n), rng.integers(1, 9000, n))
        blocks.append(dict(zip(("docs_enc", "tfs_enc", "dls_enc"), enc), n=n))
    return blocks


def _decoded_one_by_one(blocks: list[dict]) -> list[np.ndarray]:
    return [np.concatenate(a) for a in zip(*(
        decode_block(b["docs_enc"], b["tfs_enc"], b["dls_enc"], b["n"])
        for b in blocks))]


def test_decode_blocks_batch_from_buffers():
    """Blocks laid end to end as EncodedBlocks, and the same blocks as
    an Arrow record batch, decode to the same arrays as per-block
    decode_block."""
    import pyarrow as pa

    from super_rag_spark.codec import (EncodedBlocks, decode_blocks_batch,
                                       encoded_blocks)

    blocks = _random_blocks(5, 40)
    want = _decoded_one_by_one(blocks)
    buffers = EncodedBlocks(
        *(np.frombuffer(b"".join(b[c] for b in blocks), dtype=np.uint8)
          for c in ("docs_enc", "tfs_enc", "dls_enc")),
        np.array([b["n"] for b in blocks], dtype=np.int32))
    batch = encoded_blocks(pa.RecordBatch.from_pylist(blocks))
    for got in (decode_blocks_batch(buffers), decode_blocks_batch(batch)):
        for g, w in zip(got[:3], want):
            assert np.array_equal(g, w)
        assert got[3].tolist() == [b["n"] for b in blocks]


def test_encoded_blocks_of_a_slice():
    """A slice of a record batch, at a nonzero offset and of binary and
    large_binary columns, decodes as per-block decode_block over exactly
    its own rows, and its streams are views of the parent's buffers."""
    import pyarrow as pa

    from super_rag_spark.codec import decode_blocks_batch, encoded_blocks

    blocks = _random_blocks(11, 30)
    batch = pa.RecordBatch.from_pylist(blocks)
    large = batch.cast(pa.schema([
        pa.field(f.name, pa.large_binary() if f.type == pa.binary()
                 else f.type) for f in batch.schema]))
    for parent in (batch, large):
        for start, length in ((7, 12), (29, 1), (0, 30), (13, 0)):
            part = parent.slice(start, length)
            assert part.column("docs_enc").offset == start
            enc = encoded_blocks(part)
            want = (_decoded_one_by_one(blocks[start:start + length])
                    if length else [np.empty(0, np.int64)] * 3)
            got = decode_blocks_batch(enc)
            for g, w in zip(got[:3], want):
                assert np.array_equal(g, w)
            assert got[3].tolist() == [
                b["n"] for b in blocks[start:start + length]]
            if length:
                data = parent.column("docs_enc").buffers()[2]
                assert np.shares_memory(
                    enc.docs_enc, np.frombuffer(data, dtype=np.uint8))


def test_delta_is_compact():
    # dense ids compress to ~1 byte/gap
    ids = np.arange(10_000, 20_000, dtype=np.int64)
    enc = encode_varint(delta_encode(ids))
    assert len(enc) < 10_000 * 1.1 + 10
    assert np.array_equal(delta_decode(decode_varint(enc, 10_000)), ids)


def test_vectorized_block_builder_bit_identity():
    """r3 perf: _build_blocks_arrays batch-encodes the whole Arrow chunk
    in one vectorized pass and carves per-block buffers out of the
    single LEB128 stream. Every carved buffer, boundary, and stat must be
    bit-identical to per-block encode_block over the same groups."""
    import numpy as np
    import pandas as pd

    from super_rag_spark.codec import encode_block
    from super_rag_spark.index.build import _build_blocks_arrays

    rng = np.random.default_rng(7)
    rows = []
    for term in [3, 5, 64, 65, 1 << 59]:
        for salt in ([0] if term != 65 else [0, 1, 3]):
            n_post = int(rng.integers(1, 300))
            docs = np.sort(rng.choice(1 << 50, size=n_post, replace=False))
            for d in docs:
                rows.append((term, salt, int(d),
                             int(rng.integers(1, 90)),
                             int(rng.integers(1, 4000))))
    pdf = pd.DataFrame(rows, columns=["term_id", "salt", "doc_id", "tf", "dl"])
    pdf = pdf.sort_values(["term_id", "salt", "doc_id"], ignore_index=True)

    block_size, n_buckets, seg = 128, 8, 2
    got = _build_blocks_arrays(
        pdf["term_id"].to_numpy(), pdf["salt"].to_numpy(),
        pdf["doc_id"].to_numpy(), pdf["tf"].to_numpy(), pdf["dl"].to_numpy(),
        block_size, n_buckets, seg).to_pandas()

    # reference: the pre-vectorization per-group/per-block loop
    exp_rows = []
    terms = pdf["term_id"].to_numpy(); salts = pdf["salt"].to_numpy()
    doc_ids = pdf["doc_id"].to_numpy()
    tfs = pdf["tf"].to_numpy(); dls = pdf["dl"].to_numpy()
    starts = np.concatenate((
        [0],
        np.flatnonzero((terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])) + 1,
        [len(pdf)]))
    for gi in range(len(starts) - 1):
        lo, hi = int(starts[gi]), int(starts[gi + 1])
        for blk, s in enumerate(range(lo, hi, block_size)):
            e = min(s + block_size, hi)
            d_enc, t_enc, l_enc = encode_block(doc_ids[s:e], tfs[s:e], dls[s:e])
            exp_rows.append({
                "term_id": int(terms[lo]), "salt": int(salts[lo]), "seg": seg,
                "block_id": blk, "n": e - s,
                "first_doc_id": int(doc_ids[s]), "last_doc_id": int(doc_ids[e - 1]),
                "docs_enc": d_enc, "tfs_enc": t_enc, "dls_enc": l_enc,
                "block_max_tf": int(tfs[s:e].max()),
                "block_min_dl": int(dls[s:e].min()),
                "bucket": int(terms[lo]) % n_buckets})
    exp = pd.DataFrame(exp_rows)

    assert len(got) == len(exp)
    for col in exp.columns:
        g, x = got[col].tolist(), exp[col].tolist()
        assert g == x, f"column {col} diverges: {g[:3]} vs {x[:3]}"
