"""VByte / zigzag codec — NumPy-vectorized, byte-compatible with Lucene.

Byte layout matches the reference's VInt/VLong exactly
(/root/reference/src/store/DataOutput.php:158-165, doc table :63-149):
7 low-order bits per byte, least-significant group first, high bit set on
every byte except the last.  Zigzag per BitUtil.php:175-183.

Both directions work on MANY blobs per call: ``vbyte_encode_slices``
encodes one array into a blob per segment, ``vbyte_decode_slices``
decodes a list of blobs in one pass over their concatenation (each blob's
value count comes from its terminator bytes).  ``vbyte_encode`` and
``vbyte_decode`` are their one-blob wrappers.  No per-element Python
loops — encode loops over ≤10 byte positions, decode uses
``np.add.reduceat`` over continuation-bit group boundaries.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # 64 bits / 7


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64/int64 array (non-negative) to VByte bytes."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    return vbyte_encode_slices(v, np.array([0], dtype=np.int64))[0]


def vbyte_encode_slices(values: np.ndarray,
                        seg_starts: np.ndarray) -> list[bytes]:
    """Encode one big array in ONE vectorized pass, returning a bytes blob
    per segment (segments given by their start indices, ascending,
    covering the whole array).  Equivalent to calling vbyte_encode per
    segment, but without the per-tiny-array NumPy overhead — this is what
    makes posting-block encoding throughput-bound rather than
    call-overhead-bound."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return []
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp = tmp >> np.uint64(7)
    np.maximum(nbits, 1, out=nbits)
    ends = np.cumsum(nbits)
    total = int(ends[-1])
    starts = ends - nbits
    out = np.zeros(total, dtype=np.uint8)
    for j in range(_MAX_BYTES):
        sel = nbits > j
        if not sel.any():
            break
        pos = starts[sel] + j
        byte = (v[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbits[sel] - 1 > j).astype(np.uint8) << 7
        out[pos] = byte.astype(np.uint8) | cont
    seg_byte_starts = starts[seg_starts]
    seg_byte_ends = np.concatenate((seg_byte_starts[1:], [total]))
    buf = out.tobytes()
    return [buf[int(s):int(e)]
            for s, e in zip(seg_byte_starts, seg_byte_ends)]


def vbyte_decode(buf: bytes) -> np.ndarray:
    """Decode VByte bytes back to a uint64 array (vbyte_decode_slices
    of one blob)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    return _decode(b, np.flatnonzero(b < 0x80))


def vbyte_decode_slices(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sequence of VByte blobs in ONE vectorized pass over
    their concatenation -> (values, offsets): blob i's values are
    ``values[offsets[i]:offsets[i + 1]]``.  The mirror of
    vbyte_encode_slices: a value ends at each byte whose high bit is
    clear, so the blobs need no separate count column."""
    blobs = list(blobs)
    b = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    byte_bounds = np.cumsum([0] + [len(x) for x in blobs])
    return _decode(b, ends), np.searchsorted(ends, byte_bounds)


def _decode(b: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """VByte bytes ``b`` -> the uint64 values ending at ``ends`` (the
    indices of the bytes whose high bit is clear)."""
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    starts = np.concatenate(([0], ends[:-1] + 1))
    # position of each byte within its value group
    group_start = np.zeros(b.size, dtype=np.int64)
    group_start[starts] = starts
    np.maximum.accumulate(group_start, out=group_start)
    shifts = np.uint64(7) * (np.arange(b.size) - group_start).astype(np.uint64)
    contribs = (b & 0x7F).astype(np.uint64) << shifts
    return np.add.reduceat(contribs, starts)


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, dtype=np.uint64)
    return ((v >> np.uint64(1)).astype(np.int64)
            ^ -(v & np.uint64(1)).astype(np.int64))


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Gap-encode a strictly ascending id array (first kept absolute)."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)
