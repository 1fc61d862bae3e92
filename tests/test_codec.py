"""Codec unit tests (SURVEY.md §5.3) — golden byte layouts from the
reference's own doc table (/root/reference/src/store/DataOutput.php:63-149)
plus hypothesis round-trips."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from php_lucene_analyzer_spark.functions.codec import (
    delta_decode, delta_encode, vbyte_decode, vbyte_decode_slices,
    vbyte_encode, zigzag_decode, zigzag_encode)

GOLDEN = [  # value -> bytes, exactly DataOutput.php:63-149
    (0, b"\x00"),
    (1, b"\x01"),
    (127, b"\x7f"),
    (128, b"\x80\x01"),
    (16383, b"\xff\x7f"),
    (16384, b"\x80\x80\x01"),
    (16385, b"\x81\x80\x01"),
]


def test_vbyte_golden_layout():
    for value, expected in GOLDEN:
        assert vbyte_encode(np.array([value])) == expected, value
    concat = vbyte_encode(np.array([v for v, _ in GOLDEN]))
    assert concat == b"".join(e for _, e in GOLDEN)
    assert vbyte_decode(concat).tolist() == [v for v, _ in GOLDEN]


def test_empty():
    assert vbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert vbyte_decode(b"").size == 0


@settings(max_examples=200)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=200))
def test_vbyte_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert vbyte_decode(vbyte_encode(arr)).tolist() == xs


@settings(max_examples=200)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
def test_zigzag_roundtrip(xs):
    arr = np.array(xs, dtype=np.int64)
    assert zigzag_decode(zigzag_encode(arr)).tolist() == xs
    # zigzag golden: 0->0, -1->1, 1->2, -2->3 (BitUtil.php:175-183)
    assert zigzag_encode(np.array([0, -1, 1, -2, 2])).tolist() == [0, 1, 2, 3, 4]


@settings(max_examples=100)
@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=500))
def test_delta_vbyte_roundtrip_on_sorted_docids(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    blob = vbyte_encode(delta_encode(arr))
    assert delta_decode(vbyte_decode(blob)).tolist() == sorted(ids)
    if len(ids) > 1:
        # gaps compress: blob never longer than raw varints of absolutes
        assert len(blob) <= len(vbyte_encode(arr))


def _per_blob(blobs):
    """vbyte_decode_slices' reference: one vbyte_decode call per blob."""
    parts = [vbyte_decode(b) for b in blobs]
    offsets = np.cumsum([0] + [p.size for p in parts])
    values = np.concatenate(parts) if parts else np.empty(0, np.uint64)
    return values, offsets


def _assert_slices_equal(blobs):
    got_v, got_o = vbyte_decode_slices(blobs)
    want_v, want_o = _per_blob(blobs)
    assert got_v.dtype == np.uint64
    assert got_v.tolist() == want_v.tolist()
    assert got_o.tolist() == want_o.tolist()
    for i, b in enumerate(blobs):
        assert got_v[got_o[i]:got_o[i + 1]].tolist() == \
            vbyte_decode(b).tolist()


def test_decode_slices_edge_shapes():
    big = vbyte_encode(np.array([2**64 - 1, 0, 2**63, 2**64 - 2],
                                dtype=np.uint64))
    assert len(vbyte_encode(np.array([2**64 - 1], dtype=np.uint64))) == 10
    one = vbyte_encode(np.array([300, 1, 16384]))
    for blobs in ([], [one], [b""], [b"", one], [one, b"", one],
                  [b"", b"", big, b"", one], [big], [big, big],
                  [vbyte_encode(np.array([5]))] * 4):
        _assert_slices_equal(blobs)
    v, o = vbyte_decode_slices([big, one])
    assert v.tolist() == [2**64 - 1, 0, 2**63, 2**64 - 2, 300, 1, 16384]
    assert o.tolist() == [0, 4, 7]


@settings(max_examples=200)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                         max_size=40), max_size=30))
def test_decode_slices_equals_per_blob(segments):
    blobs = [vbyte_encode(np.array(xs, dtype=np.uint64)) for xs in segments]
    _assert_slices_equal(blobs)
    v, o = vbyte_decode_slices(blobs)
    assert [v[o[i]:o[i + 1]].tolist() for i in range(len(blobs))] == \
        segments
