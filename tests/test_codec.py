"""Posting-block codec round-trips (BasePostingsFormatTestCase /
RandomPostingsTester style, randomized with fixed seeds)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lucene_solr_spark.index import codec


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
@settings(max_examples=60, deadline=None)
def test_varbyte_roundtrip(vals):
    v = np.array(vals, dtype=np.uint64)
    buf = codec.varbyte_encode(v)
    out = codec.varbyte_decode(buf)
    assert np.array_equal(out, v)


@given(st.lists(st.integers(min_value=0, max_value=2**30), min_size=1, max_size=200),
       st.integers(min_value=0, max_value=34))
@settings(max_examples=60, deadline=None)
def test_pack_fixed_roundtrip(vals, extra_width):
    v = np.array(vals, dtype=np.uint64)
    w = max(int(v.max()).bit_length(), 1) + extra_width % 3
    w = min(w, 64)
    buf = codec.pack_fixed(v, w)
    out = codec.unpack_fixed(buf, w, len(v))
    assert np.array_equal(out, v)


@given(st.lists(st.integers(min_value=0, max_value=2**32), max_size=260))
@settings(max_examples=60, deadline=None)
def test_encode_seq_roundtrip(vals):
    v = np.array(vals, dtype=np.uint64)
    buf = codec.encode_seq(v)
    out = codec.decode_seq(buf, len(v))
    assert np.array_equal(out, v)


def test_all_equal_fast_path():
    v = np.full(codec.BLOCK_SIZE, 7, dtype=np.uint64)
    buf = codec.encode_seq(v)
    assert buf[0] == 0x00 and len(buf) <= 4  # header + vint(7) + vint(128)
    assert np.array_equal(codec.decode_seq(buf, len(v)), v)


def test_full_block_uses_packing():
    rng = np.random.default_rng(42)
    v = rng.integers(0, 1000, codec.BLOCK_SIZE).astype(np.uint64)
    v[0] = 1  # ensure not all equal
    buf = codec.encode_seq(v)
    assert 1 <= buf[0] <= 64
    assert np.array_equal(codec.decode_seq(buf, len(v)), v)


def test_docid_delta_roundtrip():
    rng = np.random.default_rng(7)
    docids = np.sort(rng.choice(10**9, size=128, replace=False)).astype(np.int64)
    first, last, buf = codec.encode_docids(docids)
    assert first == docids[0] and last == docids[-1]
    out = codec.decode_docids(first, buf, len(docids))
    assert np.array_equal(out, docids)


def test_positions_roundtrip():
    per_doc = [np.array([0, 3, 9]), np.array([5]), np.array([]), np.array([2, 2 + 7])]
    tfs = np.array([len(p) for p in per_doc])
    buf = codec.encode_positions([np.asarray(p) for p in per_doc])
    out = codec.decode_positions(buf, tfs)
    for a, b in zip(per_doc, out):
        assert np.array_equal(np.asarray(a, dtype=np.int64), b)


def test_bulk_decode_seqs_identity():
    """bulk_decode_seqs == concatenated per-buffer decode_seq across
    all three encoding classes (FOR widths, varbyte tails, ALL_EQUAL),
    including the single-class fast path."""
    import numpy as np

    from lucene_solr_spark.index import codec

    rng = np.random.default_rng(7)
    bufs, ns, expect = [], [], []
    for trial in range(200):
        kind = trial % 4
        if kind == 0:  # FOR, random width
            v = rng.integers(0, 1 << int(rng.integers(1, 40)),
                             codec.BLOCK_SIZE).astype(np.uint64)
        elif kind == 1:  # varbyte tail
            v = rng.integers(0, 1 << 20,
                             int(rng.integers(0, 127))).astype(np.uint64)
        elif kind == 2:  # ALL_EQUAL
            v = np.full(int(rng.integers(1, 200)),
                        int(rng.integers(0, 1000)), dtype=np.uint64)
        else:  # ALL_EQUAL at full block size
            v = np.full(codec.BLOCK_SIZE, int(rng.integers(0, 5)),
                        dtype=np.uint64)
        buf = codec.encode_seq(v)
        bufs.append(buf)
        ns.append(v.size)
        expect.append(codec.decode_seq(buf, v.size))
    got = codec.bulk_decode_seqs(bufs, np.array(ns))
    assert np.array_equal(got, np.concatenate(expect))
    # single-class fast path (all varbyte)
    sel = [(b, n) for b, n in zip(bufs, ns) if b[0] == 0xFF]
    got2 = codec.bulk_decode_seqs([b for b, _ in sel],
                                  np.array([n for _, n in sel]))
    assert np.array_equal(
        got2, np.concatenate([codec.decode_seq(b, n) for b, n in sel]))
    # empty input
    assert codec.bulk_decode_seqs([], np.array([], dtype=np.int64)).size == 0
