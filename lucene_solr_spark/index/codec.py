"""Posting-block codec: delta + varbyte / FOR encoding.

Spark-first rendering of Lucene's Lucene50 postings codec:

  * docIDs are delta-encoded and packed in blocks of up to
    ``BLOCK_SIZE`` = 128 docs (``codecs/lucene50/Lucene50PostingsFormat.java:398``;
    block writing ``Lucene50PostingsWriter.java:223-241``).
  * Full 128-doc blocks use fixed-width bit packing (the FOR scheme of
    ``codecs/lucene50/ForUtil.java:41``), with the all-values-equal fast
    path stored as a single value (``ForUtil.java:91-93``,
    ``ALL_VALUES_EQUAL``). Tail blocks (< 128 entries) use the vInt
    (varbyte) tail encoding (``Lucene50PostingsWriter.java:361-377``).
  * Positions are per-doc delta-encoded then concatenated in doc order
    (``Lucene50PostingsWriter.java:405-431``); ``tfs`` give the split
    points. Norm bytes ride along uncompressed (1 byte/doc — the role
    of the .nvd norms file, ``Lucene70NormsFormat.java``).

Everything here is vectorized numpy over ``bytes`` buffers; no per-row
Python in the Spark hot path — these functions run inside Arrow-batched
pandas UDFs on whole blocks.

Buffer format (one encoded int sequence):
    header byte H:
      H == 0xFF : varbyte-encoded sequence (tail blocks)
      H == 0x00 : all values equal; payload = one varbyte value + varbyte count
      else      : fixed bit width H (1..64); payload = n values bit-packed
                  big-endian into ceil(n*H/8) bytes; n supplied by caller.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # Lucene50PostingsFormat.java:398


# --------------------------------------------------------------------------
# varbyte (vInt) — vectorized
# --------------------------------------------------------------------------

def varbyte_encode_all(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode the whole array once; also return per-value byte counts
    so callers can slice the stream into per-group buffers (the
    whole-segment vectorized write path)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        alive = tmp > 0
        if not alive.any():
            break
        nbits[alive] += 1
        tmp >>= np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    starts = ends - nbytes
    max_rounds = int(nbytes.max())
    tmp = v.copy()
    for k in range(max_rounds):
        alive = nbytes > k
        idx = starts[alive] + k
        chunk = (tmp[alive] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[alive] > k + 1).astype(np.uint8) << 7
        out[idx] = chunk | cont
        tmp[alive] >>= np.uint64(7)
    return out.tobytes(), nbytes


def grouped_varbyte(values: np.ndarray, group_starts: np.ndarray,
                    header: bytes = b"\xff") -> list[bytes]:
    """ONE vectorized varbyte pass over `values`, sliced into
    per-group buffers at `group_starts` (value-space indices). Each
    buffer is prefixed with the 0xFF varbyte header so `decode_seq`
    reads it directly. This is what makes block encoding
    O(total values) instead of O(blocks) numpy-call overhead."""
    buf, nbytes = varbyte_encode_all(values)
    cum = np.concatenate(([0], np.cumsum(nbytes)))
    starts = np.asarray(group_starts, dtype=np.int64)
    ends = np.append(starts[1:], len(np.asarray(values)))
    mv = memoryview(buf)
    return [header + bytes(mv[cum[s]:cum[e]]) for s, e in zip(starts, ends)]


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-style varbyte: 7 bits per byte, high bit = continuation.
    Matches Lucene's vInt byte layout (store/DataOutput.writeVInt)."""
    return varbyte_encode_all(values)[0]


def varbyte_decode(buf: bytes, n: int | None = None) -> np.ndarray:
    """Decode a varbyte buffer into uint64 values (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = b < 128
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(starts.shape, dtype=np.uint64)
    max_len = int(lengths.max())
    for k in range(max_len):
        alive = lengths > k
        chunk = (b[starts[alive] + k] & np.uint8(0x7F)).astype(np.uint64)
        vals[alive] |= chunk << np.uint64(7 * k)
    if n is not None and vals.size != n:
        raise ValueError(f"expected {n} values, decoded {vals.size}")
    return vals


# --------------------------------------------------------------------------
# FOR fixed-width bit packing — vectorized
# --------------------------------------------------------------------------

def _bit_width(values: np.ndarray) -> int:
    m = int(values.max()) if values.size else 0
    return max(int(m).bit_length(), 1)


def pack_fixed(values: np.ndarray, width: int) -> bytes:
    """Bit-pack uint64 values at ``width`` bits each (big-endian bit
    order within the stream — same spirit as PackedInts)."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    # expand each value into `width` bits
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    flat = bits.reshape(-1)
    pad = (-flat.size) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros(pad, dtype=np.uint8)])
    return np.packbits(flat).tobytes()


def unpack_fixed(buf: bytes, width: int, n: int) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))[: n * width]
    bits = bits.reshape(n, width).astype(np.uint64)
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    return (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)


# --------------------------------------------------------------------------
# sequence codec with header byte
# --------------------------------------------------------------------------

_H_VARBYTE = 0xFF
_H_ALL_EQUAL = 0x00


def encode_seq(values: np.ndarray) -> bytes:
    """Encode one int sequence. Full blocks use FOR packing; the
    all-equal fast path collapses to a single value (ForUtil.java:91-93)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return bytes([_H_VARBYTE])
    if (v == v[0]).all():
        return bytes([_H_ALL_EQUAL]) + varbyte_encode(np.array([v[0], v.size], dtype=np.uint64))
    if v.size == BLOCK_SIZE:
        w = _bit_width(v)
        return bytes([w]) + pack_fixed(v, w)
    return bytes([_H_VARBYTE]) + varbyte_encode(v)


def decode_seq(buf: bytes, n: int) -> np.ndarray:
    h = buf[0]
    payload = buf[1:]
    if h == _H_VARBYTE:
        return varbyte_decode(payload, n if n else None)
    if h == _H_ALL_EQUAL:
        val, cnt = varbyte_decode(payload, 2)
        return np.full(int(cnt), val, dtype=np.uint64)
    return unpack_fixed(payload, int(h), n)


def _concat_ranges(ns: np.ndarray) -> np.ndarray:
    """[arange(n) for n in ns] concatenated, vectorized."""
    total = int(ns.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    csum = np.cumsum(ns)
    return np.arange(total, dtype=np.int64) - np.repeat(csum - ns, ns)


def bulk_decode_seqs(bufs: list, ns: np.ndarray) -> np.ndarray:
    """Decode MANY encoded sequences in ONE vectorized pass per
    encoding class; returns the concatenation of their values in input
    order — value-identical to
    ``np.concatenate([decode_seq(b, n) for b, n in zip(bufs, ns)])``.

    This is the batched counterpart of Lucene's bulk block decode
    (``codecs/lucene50/ForUtil.java:41`` decodes whole 128-int blocks
    at once): instead of a handful of numpy calls per (term, segment)
    buffer — whose fixed per-call overhead dominates leaf tasks with
    hundreds of terms — all same-width FOR payloads unpack in one
    reshape, all varbyte payloads decode in one pass (the stream is
    self-delimiting), and all ALL_EQUAL payloads expand in one repeat.
    """
    nbuf = len(bufs)
    ns = np.asarray(ns, dtype=np.int64)
    if nbuf == 0:
        return np.zeros(0, dtype=np.uint64)
    headers = np.fromiter((b[0] for b in bufs), dtype=np.uint8,
                          count=nbuf)
    total = int(ns.sum())
    tstarts = np.cumsum(ns) - ns
    out = np.empty(total, dtype=np.uint64)

    def place(sel: np.ndarray, values: np.ndarray) -> None:
        if sel.size == nbuf:  # single-class fast path: already in order
            out[:] = values
            return
        idx = np.repeat(tstarts[sel], ns[sel]) + _concat_ranges(ns[sel])
        out[idx] = values

    mv = [memoryview(b)[1:] for b in bufs]

    vb = np.flatnonzero(headers == _H_VARBYTE)
    if vb.size:
        vals = varbyte_decode(b"".join(mv[i] for i in vb),
                              int(ns[vb].sum()))
        place(vb, vals)

    eq = np.flatnonzero(headers == _H_ALL_EQUAL)
    if eq.size:
        pairs = varbyte_decode(b"".join(mv[i] for i in eq),
                               2 * eq.size)
        vals = np.repeat(pairs[0::2], pairs[1::2].astype(np.int64))
        place(eq, vals)

    packed = np.flatnonzero((headers != _H_VARBYTE)
                            & (headers != _H_ALL_EQUAL))
    if packed.size:
        # FOR payloads exist only for full blocks (encode_seq packs at
        # v.size == BLOCK_SIZE), so each payload is exactly
        # BLOCK_SIZE*w bits — concatenations reshape cleanly
        for w in np.unique(headers[packed]):
            sel = packed[headers[packed] == w]
            joined = b"".join(mv[i] for i in sel)
            bits = np.unpackbits(np.frombuffer(joined, dtype=np.uint8))
            bits = bits.reshape(-1, int(w)).astype(np.uint64)
            shifts = np.arange(int(w) - 1, -1, -1, dtype=np.uint64)
            vals = (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)
            place(sel, vals)
    return out


# --------------------------------------------------------------------------
# posting-block encode/decode
# --------------------------------------------------------------------------

def encode_docids(docids: np.ndarray) -> tuple[int, int, bytes]:
    """docIDs (sorted int64) → (first, last, delta-encoded buffer).
    deltas[i] = docid[i] - docid[i-1], deltas[0] = 0 relative to
    ``first`` (Lucene50PostingsWriter.java:223-241 stores doc deltas)."""
    d = np.asarray(docids, dtype=np.int64)
    first, last = int(d[0]), int(d[-1])
    deltas = np.diff(d, prepend=d[0]).astype(np.uint64)
    return first, last, encode_seq(deltas)


def decode_docids(first: int, buf: bytes, n: int) -> np.ndarray:
    deltas = decode_seq(buf, n).astype(np.int64)
    return first + np.cumsum(deltas)


def encode_positions(positions_per_doc: list[np.ndarray]) -> bytes:
    """Per-doc position lists → one buffer of per-doc deltas
    concatenated in doc order (split points = tfs)."""
    if not positions_per_doc:
        return bytes([_H_VARBYTE])
    parts = []
    for p in positions_per_doc:
        a = np.asarray(p, dtype=np.int64)
        parts.append(np.diff(a, prepend=a[0] if a.size else 0).astype(np.uint64)
                     if a.size else np.zeros(0, dtype=np.uint64))
        if a.size:
            parts[-1][0] = a[0]  # first position absolute
    return bytes([_H_VARBYTE]) + varbyte_encode(np.concatenate(parts))


def decode_positions(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    total = int(np.sum(tfs))
    flat = decode_seq(buf, total).astype(np.int64)
    out = []
    off = 0
    for tf in np.asarray(tfs, dtype=np.int64):
        seg = flat[off: off + tf]
        out.append(np.cumsum(seg))
        off += tf
    return out
