"""Delta + varint (LEB128) codec for posting blocks, numpy-vectorized.

The reference stores fixed-width 16-byte records and freads whole tile blocks
(src/igd_base.h:41-46, src/igd_search.c:470-474); offsets are reconstructed
from per-tile counts by prefix sum (src/igd_base.c:291-303). Here a block is
one Parquet row holding delta+varint-compressed doc_id gaps and varint tfs
(BASELINE.json north_star), decoded with numpy inside Arrow UDF kernels —
no per-value Python.

Encoding: doc_ids must be strictly increasing within a block; stored as
[first, gap1, gap2, ...] varints. tfs stored as plain varints. Positional
blocks store one doc id per occurrence the same way (non-decreasing, so a
gap may be zero) beside plain-varint positions.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10


def varint_encode_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array, returning (stream, end_offsets) where
    end_offsets has length n+1 and stream[off[i]:off[j]] is exactly the
    encoding of values[i:j] — lets a caller encode a whole partition ONCE
    and slice per-block buffers out by byte range (the per-block
    re-encoding it replaces was overhead-bound: ~10 numpy ops per
    128-element block). Vectorized: one pass per byte position (≤10
    iterations), no per-value Python loop."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    # bytes needed per value: 1 + floor(bits/7) for the part beyond 7 bits
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        chunk = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[starts[mask] + j] = chunk | cont
    return out.tobytes(), np.concatenate(([0], ends))


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (single-buffer form)."""
    return varint_encode_offsets(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 buffer → uint64 array. Vectorized per byte POSITION
    (≤10 passes over the value array, mirroring varint_encode_offsets),
    not per byte: the former per-byte formulation (repeat + shift +
    reduceat over one element per stream byte) built several 8×-stream-size
    intermediates, which on multi-byte-heavy streams (e.g. hash doc-id
    gaps averaging ~7.4 B/value) was memory-bandwidth-bound — measured
    38 s → ~1 s on a 91 MB stream of 12 M values."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    n = ends.size
    if n == 0:  # malformed: all-continuation stream
        return np.empty(0, dtype=np.uint64)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    cont = ends - starts  # continuation bytes per value (0..9)
    # terminal byte first — its shift varies per value, one vectorized pass
    out = (b[ends] & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * cont.astype(np.uint64)
    )
    if cont.any():
        low = b & np.uint8(0x7F)
        # bucket values by continuation count: each bucket decodes with
        # exactly-c gather/shift passes and bucket-sized temporaries —
        # no stream-sized per-byte intermediates (page-fault-bound here)
        for c in np.unique(cont):
            c = int(c)
            if c == 0:
                continue
            idx = np.flatnonzero(cont == c)
            pos = starts[idx]
            pos += c - 1
            g8 = np.empty(idx.size, dtype=np.uint8)
            np.take(low, pos, out=g8)
            acc = g8.astype(np.uint64)
            for _ in range(c - 1):  # walk byte positions high→low in place
                pos -= 1
                np.take(low, pos, out=g8)
                acc <<= np.uint64(7)
                acc |= g8
            out[idx] |= acc
    return out


def decode_blocks(n: np.ndarray, doc_ids, *payload) -> tuple:
    """Segmented decode of block rows: per-block counts ``n`` and per-block
    varint buffers (sequences of bytes-likes) in, the blocks' flat doc_id
    int64 array and one flat float64 array per ``payload`` column (tfs, dls
    or poss) out, in row order — float64 is the dtype BM25 scores tf and dl
    in, and exact for every int32 column value.

    ONE varint pass per column over the concatenated buffers: every
    block's first doc varint is absolute and the rest are gaps, so a
    cumsum minus its value at each block start restores absolute ids
    block by block. The offset of block i is cpad[starts[i]] (the cumsum
    zero-padded on the left) — exact even for zero-n rows, including a
    LEADING one, where an ends[:-1]-1 index would wrap to c[-1] and
    corrupt every doc id after it."""
    n = np.asarray(n, dtype=np.int64)
    c = np.cumsum(varint_decode(b"".join(doc_ids)).astype(np.int64))
    cpad = np.concatenate(([0], c))
    d = c - np.repeat(cpad[np.cumsum(n) - n], n)
    return (d, *(varint_decode(b"".join(p)).astype(np.float64) for p in payload))


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Strictly-increasing int64 doc ids → delta varints [first, gaps...]."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    # compare ids directly, never their diffs: full-range int64 ids (e.g.
    # hashed/interned keys) can have gaps past 2^63 that wrap a signed
    # diff negative even though the sequence is increasing
    if d.size > 1 and not (d[1:] > d[:-1]).all():
        raise ValueError("doc_ids must be strictly increasing within a block")
    du = d.astype(np.uint64)
    deltas = du.copy()
    deltas[1:] -= du[:-1]  # mod-2^64 gaps; decode's wrapping cumsum inverts
    return varint_encode(deltas)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    deltas = varint_decode(buf)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(deltas.astype(np.int64))


def encode_tfs(tfs: np.ndarray) -> bytes:
    return varint_encode(np.ascontiguousarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return varint_decode(buf).astype(np.int32)
