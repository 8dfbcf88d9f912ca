"""Delta+varint codec round-trips, incl. hypothesis property tests
(fills yaii's empty property-test slot, SURVEY.md §5)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from yaii_spark.codec import (
    decode_positions,
    delta_decode,
    delta_encode,
    encode_positions,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_basic():
    a = np.array([0, 1, 127, 128, 16383, 16384, 2**32, 2**63], dtype=np.uint64)
    assert (varint_decode(varint_encode(a)) == a).all()


def test_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0
    assert delta_decode(delta_encode(np.empty(0, dtype=np.uint64))).size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
def test_varint_roundtrip_prop(vals):
    a = np.array(vals, dtype=np.uint64)
    assert (varint_decode(varint_encode(a)) == a).all()


@settings(max_examples=200, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**62), max_size=200))
def test_delta_roundtrip_prop(ids):
    a = np.array(sorted(ids), dtype=np.uint64)
    assert (delta_decode(delta_encode(a)) == a).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10000), min_size=1, max_size=20),
        max_size=30,
    )
)
def test_positions_roundtrip_prop(poslists):
    poslists = [sorted(set(p)) or [0] for p in poslists]
    tfs = np.array([len(p) for p in poslists], dtype=np.int64)
    dec = decode_positions(encode_positions(poslists), tfs)
    assert len(dec) == len(poslists)
    for got, want in zip(dec, poslists):
        assert (got == np.array(want, dtype=np.uint64)).all()


@settings(max_examples=200, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=2**62), max_size=300),
    st.integers(min_value=1, max_value=40),
)
def test_blocked_delta_roundtrip_prop(ids, block):
    """v4 blocked layout: full decode round-trips for any block size,
    offsets point at real restart boundaries, and every single block
    decodes independently to exactly its slice."""
    from yaii_spark.codec import (
        delta_decode_blocked,
        delta_encode_blocked,
        varint_encode_blocked,
    )

    a = np.array(sorted(ids), dtype=np.uint64)
    buf, offs = delta_encode_blocked(a, block)
    assert (delta_decode_blocked(buf, block) == a).all()
    assert len(offs) == (a.size + block - 1) // block if a.size else len(offs) == 0
    for bx in range(len(offs)):
        lo = int(offs[bx])
        hi = int(offs[bx + 1]) if bx + 1 < len(offs) else len(buf)
        got = delta_decode_blocked(buf[lo:hi], block)
        assert (got == a[bx * block : (bx + 1) * block]).all()
    # tf stream: per-entry varints with the same offset contract
    tfs = (a % 7 + 1).astype(np.uint64)
    tbuf, toffs = varint_encode_blocked(tfs, block)
    assert (varint_decode(tbuf) == tfs).all()
    for bx in range(len(toffs)):
        lo = int(toffs[bx])
        hi = int(toffs[bx + 1]) if bx + 1 < len(toffs) else len(tbuf)
        assert (varint_decode(tbuf[lo:hi]) == tfs[bx * block : (bx + 1) * block]).all()


def test_varint_compresses_small_deltas():
    ids = np.arange(0, 100000, 3, dtype=np.uint64)
    enc = delta_encode(ids)
    assert len(enc) < ids.size * 1.1  # ~1 byte per docID for dense lists


# -- packed per-doc posting frames (analyzer.doc_postings) -------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_doc_postings_roundtrip(text):
    """Pack → parse == the straightforward per-field inversion, for any
    text (including exotic whitespace/unicode and empty input)."""
    from yaii_spark.analyzer import (
        STOPWORDS, doc_postings, tokenize, tokenize_all_field, varint_read,
    )

    specs = [(0, (0,), tokenize_all_field), (1, (0,), tokenize)]
    dl, bufs = doc_postings((text,), 4, specs)
    toks = tokenize(text)
    assert dl == len(toks)

    got = {}
    for sh, data in bufs.items():
        off = 0
        while off < len(data):
            fid, off = varint_read(data, off)
            tl, off = varint_read(data, off)
            term = bytes(data[off:off + tl]).decode("utf-8"); off += tl
            tf, off = varint_read(data, off)
            pl, off = varint_read(data, off)
            deltas = []
            end = off + pl
            while off < end:
                d, off = varint_read(data, off)
                deltas.append(d)
            pos = []
            acc = 0
            for d in deltas:
                acc += d
                pos.append(acc)
            assert len(pos) == tf
            assert (fid, term) not in got  # each (field, term) framed once
            got[(fid, term)] = pos

    want = {}
    for fid, _, fn in specs:
        stream = toks if fn is tokenize else [t for t in toks if t not in STOPWORDS]
        for i, tk in enumerate(stream):
            want.setdefault((fid, tk), []).append(i)
    assert got == want


# -- v5 blocked positions: flat decode / block offsets / byte lengths -------

@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 500), min_size=1, max_size=12),
        min_size=1, max_size=40,
    ),
    st.sampled_from([1, 2, 4, 8]),
)
def test_blocked_positions_roundtrip(raw_lists, block):
    """encode_positions_blocked: stream bytes identical to
    encode_positions; every block slice decodes independently via
    decode_positions_flat; position_byte_lengths reconstructs the
    offsets; flat decode == list decode."""
    from yaii_spark.codec import (
        block_offsets_from_lengths,
        decode_positions,
        decode_positions_flat,
        encode_positions,
        encode_positions_blocked,
        position_byte_lengths,
    )

    pos_lists = [sorted(set(xs)) for xs in raw_lists]
    tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
    buf, offs = encode_positions_blocked(pos_lists, block)
    assert buf == encode_positions(pos_lists)
    # offsets reconstructable from the stream alone (merge's verbatim-
    # concat path relies on this)
    lens = position_byte_lengths(buf, tfs)
    assert list(block_offsets_from_lengths(lens, block)) == list(offs)
    # flat decode == per-doc decode
    vals, starts = decode_positions_flat(buf, tfs)
    as_lists = [
        [int(x) for x in vals[s : s + n]] for s, n in zip(starts, tfs)
    ]
    assert as_lists == [[int(x) for x in p] for p in pos_lists]
    assert [list(map(int, d)) for d in decode_positions(buf, tfs)] == as_lists
    # every block slice decodes independently
    nblocks = len(offs)
    for bx in range(nblocks):
        lo = int(offs[bx])
        hi = int(offs[bx + 1]) if bx + 1 < nblocks else len(buf)
        sl_tfs = tfs[bx * block : (bx + 1) * block]
        v, s = decode_positions_flat(buf[lo:hi], sl_tfs)
        got = [[int(x) for x in v[a : a + n]] for a, n in zip(s, sl_tfs)]
        assert got == as_lists[bx * block : (bx + 1) * block]
