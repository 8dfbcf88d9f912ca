"""Delta+varint posting-list codecs (numpy-vectorized).

north_rule requirement: "sorted, delta+varint-compressed posting lists
(term -> [docID, tf, positions])". The reference compresses postings
with RoaringBitmap run-optimization
(/root/reference/src/lib/internal/segments/immutable-segment.ts:245,268);
bitmaps carry no tf/positions, so the on-disk format here is new design,
not a port: classic Lucene-style blocks of LEB128 varints over
first-order deltas.

Encoding is vectorized with numpy (byte-length classing + cumsum offset
scatter); decoding uses a tight numpy scan. Both round-trip-tested with
hypothesis (tests/test_codec.py).
"""

from __future__ import annotations

import numpy as np

_MASKS = np.array([0x7F], dtype=np.uint64)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array → bytes (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # byte length of each varint: ceil(bitlen/7), min 1
    bitlen = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp != 0
        if not nz.any():
            break
        bitlen[nz] += 1
        tmp >>= np.uint64(1)
    nbytes = np.maximum((bitlen + 6) // 7, 1)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    # scatter each byte position k of each value
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    maxb = int(nbytes.max())
    for k in range(maxb):
        sel = nbytes > k
        idx = starts[sel] + k
        chunk = (v[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[sel] - 1 > k).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array (vectorized)."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    vals = np.zeros(n, dtype=np.uint64)
    lengths = ends - starts + 1
    maxb = int(lengths.max())
    for k in range(maxb):
        sel = lengths > k
        chunk = b[starts[sel] + k].astype(np.uint64) & np.uint64(0x7F)
        vals[sel] |= chunk << np.uint64(7 * k)
    return vals


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Byte length of each value's LEB128 encoding (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    bitlen = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp != 0
        if not nz.any():
            break
        bitlen[nz] += 1
        tmp >>= np.uint64(1)
    return np.maximum((bitlen + 6) // 7, 1)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Strictly-increasing int array → delta + varint bytes."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return b""
    deltas = np.empty_like(a)
    deltas[0] = a[0]
    np.subtract(a[1:], a[:-1], out=deltas[1:])
    return varint_encode(deltas)


def delta_decode(buf: bytes) -> np.ndarray:
    deltas = varint_decode(buf)
    if deltas.size == 0:
        return deltas
    return np.cumsum(deltas, dtype=np.uint64)


# ---------------------------------------------------------------------------
# blocked layout (FORMAT_VERSION 4): delta encoding RESTARTS at every
# block boundary (the first value of each block is stored absolute), so
# any block can be decoded independently given its byte offset — the
# basis for MaxScore's lazy per-block decode (killed blocks are never
# touched). Mirrors Lucene's skip-block layout; the reference's
# RoaringBitmaps have no per-block payloads at all.
# ---------------------------------------------------------------------------

def delta_encode_blocked(
    sorted_ids: np.ndarray, block: int
) -> tuple[bytes, np.ndarray]:
    """Strictly-increasing array → (bytes, per-block byte offsets).

    Identical to delta_encode except values at indices i % block == 0
    are stored absolute (restart points)."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return b"", np.empty(0, dtype=np.int32)
    deltas = np.empty_like(a)
    deltas[0] = a[0]
    np.subtract(a[1:], a[:-1], out=deltas[1:])
    starts = np.arange(0, a.size, block)
    deltas[starts] = a[starts]  # absolute restart per block
    lens = varint_lengths(deltas)
    ends = np.cumsum(lens)
    value_offs = np.concatenate(([0], ends[:-1]))
    return varint_encode(deltas), value_offs[starts].astype(np.int32)


def delta_decode_blocked(buf: bytes, block: int) -> np.ndarray:
    """Full decode of the blocked layout (restart-aware cumsum)."""
    deltas = varint_decode(buf)
    if deltas.size == 0:
        return deltas
    c = np.cumsum(deltas, dtype=np.uint64)
    starts = np.arange(0, deltas.size, block)
    pre = np.zeros(starts.size, dtype=np.uint64)
    pre[1:] = c[starts[1:] - 1]
    counts = np.diff(np.append(starts, deltas.size))
    return c - np.repeat(pre, counts)


def varint_encode_blocked(
    values: np.ndarray, block: int
) -> tuple[bytes, np.ndarray]:
    """Plain per-entry varints + per-block byte offsets (tf stream)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int32)
    lens = varint_lengths(v)
    ends = np.cumsum(lens)
    value_offs = np.concatenate(([0], ends[:-1]))
    starts = np.arange(0, v.size, block)
    return varint_encode(v), value_offs[starts].astype(np.int32)


def decode_byte_range(buf: bytes, offs: np.ndarray, b: int) -> bytes:
    """Byte slice of block b of a blocked stream, given its per-block
    start offsets (the last block runs to the end of `buf`)."""
    lo = int(offs[b])
    hi = int(offs[b + 1]) if b + 1 < len(offs) else len(buf)
    return buf[lo:hi]


def encode_positions(positions_per_doc: list) -> bytes:
    """Concatenate per-doc sorted position lists, each delta-encoded.

    Lengths are recoverable from the tf array (len(positions) == tf),
    so no extra length prefix is stored — mirrors Lucene's .prx layout.
    """
    flat = []
    for pos in positions_per_doc:
        p = np.asarray(pos, dtype=np.uint64)
        if p.size:
            d = np.empty_like(p)
            d[0] = p[0]
            np.subtract(p[1:], p[:-1], out=d[1:])
            flat.append(d)
    if not flat:
        return b""
    return varint_encode(np.concatenate(flat))


def decode_positions_flat(
    buf: bytes, tfs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized inverse of encode_positions: (values, starts) where
    `values` is every doc's positions concatenated and `starts[i]` is
    doc i's first index into it. The per-doc delta restart is handled
    with ONE restart-aware cumsum (global cumsum minus the prefix value
    at each doc start, repeated) — no per-doc Python loop, which at
    df=10^6 postings was the real cost of dense-term phrase evaluation
    (13.9 s at the 1M-doc probe)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    ends = np.cumsum(tfs)
    starts = ends - tfs
    deltas = varint_decode(buf)
    if deltas.size == 0:
        return deltas.astype(np.int64), starts
    c = np.cumsum(deltas, dtype=np.uint64)
    pre = np.zeros(tfs.size, dtype=np.uint64)
    nz = starts > 0
    pre[nz] = c[starts[nz] - 1]
    vals = (c - np.repeat(pre, tfs)).astype(np.int64)
    return vals, starts


def decode_positions(buf: bytes, tfs: np.ndarray) -> list:
    """List-of-arrays form of decode_positions_flat (small inputs /
    tests; hot paths use the flat form)."""
    vals, starts = decode_positions_flat(buf, tfs)
    tfs = np.asarray(tfs, dtype=np.int64)
    return [
        vals[s : s + n].astype(np.uint64) for s, n in zip(starts, tfs)
    ]


def position_byte_lengths(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Encoded byte length of each doc's position list inside a
    concatenated stream (vectorized: one varint_lengths pass segment-
    summed by tf) — lets a merge derive block_pos_offs for a stream it
    concatenated VERBATIM instead of re-encoding per doc."""
    tfs = np.asarray(tfs, dtype=np.int64)
    deltas = varint_decode(buf)
    cs = np.concatenate(([0], np.cumsum(varint_lengths(deltas))))
    ends = np.cumsum(tfs)
    return cs[ends] - cs[ends - tfs]


# ---------------------------------------------------------------------------
# blocked positions (FORMAT_VERSION 5): each doc's position list is
# delta-encoded independently (restart per doc — encode_positions always
# did this), so any BYTE RANGE aligned to doc boundaries decodes on its
# own; v5 additionally stores the stream's byte offset at every id-block
# boundary (same 128-doc blocks as doc_ids_bin), making position decode
# candidate-driven: a phrase over a dense term touches only the blocks
# holding surviving candidates instead of the corpus-scale stream
# (VERDICT r3 #1 — the 13.9 s stopword-phrase pathology at 1M docs).
# ---------------------------------------------------------------------------

def block_offsets_from_lengths(lengths: np.ndarray, block: int) -> np.ndarray:
    """Byte offset of the stream at each block start, given per-doc
    encoded byte lengths (works for any per-doc concatenated stream —
    the pos_bin writers use it on either computed or pre-encoded
    blobs)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    if lengths.size == 0:
        return np.empty(0, dtype=np.int32)
    ends = np.cumsum(lengths)
    starts = np.concatenate(([0], ends[:-1]))
    return starts[::block].astype(np.int32)


def encode_positions_blocked(
    positions_per_doc: list, block: int
) -> tuple[bytes, np.ndarray]:
    """encode_positions + per-block byte offsets (identical stream
    bytes; offsets index every `block`-th doc boundary). Single pass:
    deltas are computed once, per-doc byte lengths come from one
    varint_lengths call over the concatenated deltas segment-summed by
    doc."""
    n = len(positions_per_doc)
    counts = np.empty(n, dtype=np.int64)
    flat = []
    for i, pos in enumerate(positions_per_doc):
        p = np.asarray(pos, dtype=np.uint64)
        counts[i] = p.size
        if p.size:
            d = np.empty_like(p)
            d[0] = p[0]
            np.subtract(p[1:], p[:-1], out=d[1:])
            flat.append(d)
    if not flat:
        return b"", block_offsets_from_lengths(np.zeros(n, dtype=np.int64), block)
    alld = np.concatenate(flat)
    cs = np.concatenate(([0], np.cumsum(varint_lengths(alld))))
    ends = np.cumsum(counts)
    doc_lens = cs[ends] - cs[ends - counts]
    return varint_encode(alld), block_offsets_from_lengths(doc_lens, block)
