"""Posting-block codec unit + property tests (SURVEY.md §5.1)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from splade_spark.build.codec import (
    VERSION,
    decode_doc_ids,
    decode_impacts,
    encode_doc_ids,
    encode_impacts,
    varint_decode,
    varint_encode,
    zigzag_decode,
    zigzag_encode,
)


def test_zigzag_roundtrip_extremes():
    v = np.array([0, -1, 1, -2, 2, 2**62, -(2**62), 2**63 - 1, -(2**63)], dtype=np.int64)
    assert (zigzag_decode(zigzag_encode(v)) == v).all()


def test_zigzag_small_magnitudes_small_codes():
    assert list(zigzag_encode(np.array([0, -1, 1, -2, 2]))) == [0, 1, 2, 3, 4]


def test_varint_known_bytes():
    # LEB128: 0→00, 127→7f, 128→80 01, 300→ac 02
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


def test_varint_roundtrip_mixed_widths():
    v = np.array([0, 1, 127, 128, 16383, 16384, 2**32, 2**63, 2**64 - 1], dtype=np.uint64)
    assert (varint_decode(varint_encode(v), count=len(v)) == v).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip_property(values):
    v = np.array(values, dtype=np.uint64)
    out = varint_decode(varint_encode(v))
    assert out.size == v.size and (out == v).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=256,
        unique=True,
    )
)
def test_doc_ids_roundtrip_property(ids):
    d = np.array(sorted(ids), dtype=np.int64)
    assert (decode_doc_ids(encode_doc_ids(d), len(d)) == d).all()


def test_doc_ids_gap_wider_than_int63():
    """Consecutive gap > 2^63 (rare term spanning half the hash id range) —
    regression for the int64 np.diff wraparound that rejected valid blocks."""
    d = np.array([-(2**62) - 2**61, 2**62 + 2**61], dtype=np.int64)
    assert (decode_doc_ids(encode_doc_ids(d), 2) == d).all()
    extremes = np.array([-(2**63), 2**63 - 1], dtype=np.int64)
    assert (decode_doc_ids(encode_doc_ids(extremes), 2) == extremes).all()


def test_doc_ids_roundtrip_negative_xxh64_style():
    rng = np.random.default_rng(42)
    d = np.unique(rng.integers(-(2**63), 2**63 - 1, size=1000, dtype=np.int64))
    blob = encode_doc_ids(d)
    assert blob[0] == VERSION
    assert (decode_doc_ids(blob, len(d)) == d).all()
    # dense ascending ids compress to ~1 byte/doc after the first
    dense = np.arange(10_000, dtype=np.int64)
    assert len(encode_doc_ids(dense)) < 10_200


def test_doc_ids_reject_unsorted():
    with pytest.raises(ValueError):
        encode_doc_ids(np.array([5, 3], dtype=np.int64))


def test_impacts_roundtrip_f64_exact():
    w = np.random.default_rng(7).random(500)
    out = decode_impacts(encode_impacts(w), 500)
    assert out.dtype == np.float64 and (out == w).all()  # bit-exact


def test_impacts_width_other_than_8_rejected():
    # a float32 blob as the removed width-4 option wrote it: [1, 4, f32 ...]
    blob = bytes.fromhex("01040000003f0000a03f00000040")
    with pytest.raises(ValueError, match="width 4"):
        decode_impacts(blob, 3)


def test_version_byte_rejected():
    blob = bytearray(encode_doc_ids(np.array([1, 2], dtype=np.int64)))
    blob[0] = 99
    with pytest.raises(ValueError):
        decode_doc_ids(bytes(blob), 2)


def test_varint_count_mismatch_raises():
    with pytest.raises(ValueError):
        varint_decode(varint_encode(np.array([1, 2, 3], dtype=np.uint64)), count=2)


def test_frozen_hex_goldens():
    """Byte format can never drift silently (FIXTURES.md §6)."""
    d = np.array([-1000, -1, 0, 127, 128, 100000, 2**40], dtype=np.int64)
    w = np.array([0.5, 1.25, 2.0, 0.125, 3.5, 0.75, 1.0])
    assert encode_doc_ids(d).hex() == "01cf0fe707017f01a08c06e0f2f9ffff1f"
    assert encode_impacts(w).hex() == (
        "0108000000000000e03f000000000000f43f0000000000000040000000000000c03f"
        "0000000000000c40000000000000e83f000000000000f03f"
    )
