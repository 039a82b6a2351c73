import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from igd_spark import codec


def test_varint_roundtrip_small():
    v = np.array([0, 1, 127, 128, 300, 2**32, 2**63 - 1], dtype=np.uint64)
    assert (codec.varint_decode(codec.varint_encode(v)) == v).all()


def test_varint_empty():
    assert codec.varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
def test_varint_roundtrip_prop(vals):
    v = np.array(vals, dtype=np.uint64)
    out = codec.varint_decode(codec.varint_encode(v))
    assert (out == v).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True
    )
)
def test_docids_roundtrip_prop(vals):
    d = np.array(sorted(vals), dtype=np.int64)
    out = codec.decode_doc_ids(codec.encode_doc_ids(d))
    assert (out == d).all()


def test_docids_requires_strictly_increasing():
    with pytest.raises(ValueError):
        codec.encode_doc_ids(np.array([3, 3], dtype=np.int64))


def test_varint_compression_wins():
    # small gaps → ~1 byte per value vs 8 fixed-width
    d = np.arange(0, 10_000, 3, dtype=np.int64)
    enc = codec.encode_doc_ids(d)
    assert len(enc) < d.size * 2


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=300, unique=True,
    )
)
def test_docids_roundtrip_full_int64_range(vals):
    # hashed/interned doc ids span the full signed range; gaps past 2^63
    # must survive the mod-2^64 delta encoding (overflow regression)
    d = np.array(sorted(vals), dtype=np.int64)
    out = codec.decode_doc_ids(codec.encode_doc_ids(d))
    assert (out == d).all()


def test_docids_giant_gap_exact():
    d = np.array([-(2**63), 2**63 - 1], dtype=np.int64)
    out = codec.decode_doc_ids(codec.encode_doc_ids(d))
    assert (out == d).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=0, max_size=40, unique=True,
        ),
        min_size=1, max_size=8,
    )
)
def test_decode_blocks_matches_per_block_decode(blocks):
    """codec.decode_blocks (one segmented pass over all rows, zero-posting
    rows included — a leading one too) equals decoding block by block."""
    blocks = [np.array(sorted(b), dtype=np.int64) for b in blocks]
    n = np.array([b.size for b in blocks], dtype=np.int64)
    tfs = [np.arange(1, b.size + 1, dtype=np.uint64) for b in blocks]
    dls = [np.full(b.size, 300 + i, dtype=np.uint64) for i, b in enumerate(blocks)]
    d, tf, dl = codec.decode_blocks(
        n,
        [codec.encode_doc_ids(b) for b in blocks],
        [codec.varint_encode(t) for t in tfs],
        [codec.varint_encode(x) for x in dls],
    )
    assert d.dtype == np.int64 and tf.dtype == dl.dtype == np.float64
    assert d.tolist() == np.concatenate(blocks).tolist()
    assert tf.tolist() == np.concatenate(tfs).astype(np.float64).tolist()
    assert dl.tolist() == np.concatenate(dls).astype(np.float64).tolist()
