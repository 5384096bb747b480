"""Posting-block codec unit + property tests (SURVEY.md §5.1).

Pure numpy, no Spark session: the batch codec against a plain-Python
per-block reference, its rejections, the frozen byte goldens, and the pack
stream's block emitter against the per-block tuple loop it replaced.
"""

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from splade_spark.build.codec import (
    VERSION,
    decode_blocks,
    encode_blocks,
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


_MASK = 2**64 - 1


def _ref_docs_blob(ids) -> bytes:
    """One block's doc-id blob, by the format's definition, in plain Python."""
    out, prev = bytearray([VERSION]), None
    for x in map(int, ids):
        v = ((x << 1) ^ (x >> 63)) & _MASK if prev is None else (x - prev) & _MASK
        prev = x
        while True:
            byte, v = v & 0x7F, v >> 7
            out.append(byte | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


def _ref_impacts_blob(w) -> bytes:
    return bytes([VERSION, 8]) + struct.pack(f"<{len(w)}d", *w)


def _one(d, w=None):
    """(docs_bin, impacts_bin) of one block."""
    d = np.asarray(d, dtype=np.int64)
    w = np.zeros(d.size) if w is None else w
    docs_bin, impacts_bin = encode_blocks(d, w, [0])
    return docs_bin[0], impacts_bin[0]


def _random_run(rng, sizes):
    """Blocks of ``sizes`` postings: full-range int64 ids ascending within
    each block (extremes and > 2^63 gaps included), random float64 impacts."""
    blocks = []
    for n in sizes:
        pool = np.concatenate(
            (rng.integers(-(2**63), 2**63 - 1, size=n + 4, dtype=np.int64),
             np.array([-(2**63), 2**63 - 1, -1, 0], dtype=np.int64))
        )
        blocks.append(np.sort(rng.choice(np.unique(pool), size=n, replace=False)))
    docs = np.concatenate(blocks) if blocks else np.empty(0, dtype=np.int64)
    starts = np.cumsum([0, *sizes])[:-1]
    return docs, rng.random(docs.size) * 20.0, starts


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
    docs_bin, impacts_bin = _one(d)
    assert docs_bin == _ref_docs_blob(d)
    assert (decode_blocks([docs_bin], [impacts_bin], [len(d)])[0] == d).all()


def test_doc_ids_gap_wider_than_int63():
    """Consecutive gap > 2^63 (rare term spanning half the hash id range) —
    regression for the int64 np.diff wraparound that rejected valid blocks."""
    for d in ([-(2**62) - 2**61, 2**62 + 2**61], [-(2**63), 2**63 - 1]):
        d = np.array(d, dtype=np.int64)
        docs_bin, impacts_bin = _one(d)
        assert (decode_blocks([docs_bin], [impacts_bin], [2])[0] == d).all()


def test_doc_ids_roundtrip_negative_xxh64_style():
    rng = np.random.default_rng(42)
    d = np.unique(rng.integers(-(2**63), 2**63 - 1, size=1000, dtype=np.int64))
    docs_bin, impacts_bin = _one(d)
    assert docs_bin[0] == VERSION
    assert (decode_blocks([docs_bin], [impacts_bin], [len(d)])[0] == d).all()
    # dense ascending ids compress to ~1 byte/doc after the first
    assert len(_one(np.arange(10_000))[0]) < 10_200


def test_doc_ids_reject_unsorted():
    with pytest.raises(ValueError, match="ascending"):
        _one([5, 3])
    with pytest.raises(ValueError, match="ascending"):
        encode_blocks(np.array([1, 2, 9, 9], dtype=np.int64), np.zeros(4), [0, 2])
    # order is per block: a block may start below the previous one's end
    docs_bin, _ = encode_blocks(np.array([5, 3], dtype=np.int64), np.zeros(2), [0, 1])
    assert list(docs_bin) == [_ref_docs_blob([5]), _ref_docs_blob([3])]


def test_impacts_roundtrip_f64_exact():
    w = np.random.default_rng(7).random(500)
    docs_bin, impacts_bin = _one(np.arange(500), w)
    assert impacts_bin == _ref_impacts_blob(w)
    out = decode_blocks([docs_bin], [impacts_bin], [500])[1]
    assert out.dtype == np.float64 and (out == w).all()  # bit-exact


def test_impacts_width_other_than_8_rejected():
    # a float32 blob as the removed width-4 option wrote it: [1, 4, f32 ...]
    blob = bytes.fromhex("01040000003f0000a03f00000040")
    with pytest.raises(ValueError, match="width 4"):
        decode_blocks([_one([1, 2, 3])[0]], [blob], [3])


def test_version_byte_rejected():
    docs_bin, impacts_bin = _one([1, 2])
    with pytest.raises(ValueError, match="version 99"):
        decode_blocks([b"\x63" + docs_bin[1:]], [impacts_bin], [2])
    with pytest.raises(ValueError, match="version 99"):
        decode_blocks([docs_bin], [b"\x63" + impacts_bin[1:]], [2])


def test_varint_count_mismatch_raises():
    with pytest.raises(ValueError):
        varint_decode(varint_encode(np.array([1, 2, 3], dtype=np.uint64)), count=2)


def test_frozen_hex_goldens():
    """Byte format can never drift silently (FIXTURES.md §6) — alone or as
    the middle block of a run."""
    d = np.array([-1000, -1, 0, 127, 128, 100000, 2**40], dtype=np.int64)
    w = np.array([0.5, 1.25, 2.0, 0.125, 3.5, 0.75, 1.0])
    docs_hex = "01cf0fe707017f01a08c06e0f2f9ffff1f"
    impacts_hex = (
        "0108000000000000e03f000000000000f43f0000000000000040000000000000c03f"
        "0000000000000c40000000000000e83f000000000000f03f"
    )
    docs_bin, impacts_bin = _one(d, w)
    assert docs_bin.hex() == docs_hex
    assert impacts_bin.hex() == impacts_hex
    run_docs = np.concatenate(([7], d, [2**62, 2**62 + 1]))
    run_w = np.concatenate(([9.0], w, [0.25, 4.0]))
    docs_bins, impacts_bins = encode_blocks(run_docs, run_w, [0, 1, 1 + d.size])
    assert docs_bins[1].hex() == docs_hex
    assert impacts_bins[1].hex() == impacts_hex


@pytest.mark.parametrize("seed", range(6))
def test_encode_blocks_matches_per_block_reference(seed):
    rng = np.random.default_rng(seed)
    sizes = [
        [1] * 40,  # web_zipf-like: one posting per block
        [128] * 5,  # exactly block_size postings per block
        list(rng.integers(1, 129, size=30)),
        [3, 1, 128, 2, 127, 1],
        [],  # empty input
        list(rng.choice([1, 1, 1, 2, 3, 128], size=60)),
    ][seed]
    docs, impacts, starts = _random_run(rng, sizes)
    docs_bins, impacts_bins = encode_blocks(docs, impacts, starts)
    ends = [*starts[1:], docs.size]
    assert list(docs_bins) == [_ref_docs_blob(docs[a:b]) for a, b in zip(starts, ends)]
    assert list(impacts_bins) == [_ref_impacts_blob(impacts[a:b]) for a, b in zip(starts, ends)]
    got_docs, got_impacts = decode_blocks(docs_bins, impacts_bins, sizes)
    assert got_docs.dtype == np.int64 and got_impacts.dtype == np.float64
    assert (got_docs == docs).all()
    assert (got_impacts.view(np.uint64) == impacts.view(np.uint64)).all()


def _three_blocks():
    """Three blocks of 3 postings with multi-byte varints, as mutable lists."""
    docs, impacts, starts = _random_run(np.random.default_rng(3), [3, 3, 3])
    docs_bins, impacts_bins = encode_blocks(docs, impacts, starts)
    return list(docs_bins), list(impacts_bins), [3, 3, 3]


def test_decode_blocks_rejects_a_bad_middle_block():
    docs_bins, impacts_bins, n = _three_blocks()
    assert decode_blocks(docs_bins, impacts_bins, n)[0].size == 9

    bad = list(docs_bins)
    bad[1] = b"\x02" + bad[1][1:]
    with pytest.raises(ValueError, match="block 1: unknown posting-block version 2"):
        decode_blocks(bad, impacts_bins, n)

    bad = list(impacts_bins)
    bad[1] = bad[1][:1] + b"\x04" + bad[1][2:]
    with pytest.raises(ValueError, match="block 1: unknown impact width 4"):
        decode_blocks(docs_bins, bad, n)

    bad = list(impacts_bins)
    bad[1] = bad[1][:-8]
    with pytest.raises(ValueError, match="block 1: impacts blob of 18 bytes, expected 26"):
        decode_blocks(docs_bins, bad, n)

    # one value short: the block's varints hold 2 values, n_docs says 3
    short = _ref_docs_blob(np.sort(np.array([5, 2**40], dtype=np.int64)))
    with pytest.raises(ValueError, match="block 1: varint stream has 2 values, expected 3"):
        decode_blocks([docs_bins[0], short, docs_bins[2]], impacts_bins, n)

    # a varint left open at the blob's end would run into block 2's bytes
    with pytest.raises(ValueError, match="block 1"):
        decode_blocks([docs_bins[0], docs_bins[1][:-1], docs_bins[2]], impacts_bins, n)
    with pytest.raises(ValueError, match="block 1: last varint runs past"):
        decode_blocks([docs_bins[0], docs_bins[1] + b"\x80", docs_bins[2]], impacts_bins, n)


def test_decode_blocks_empty_run():
    docs, impacts = decode_blocks([], [], [])
    assert docs.dtype == np.int64 and impacts.dtype == np.float64
    assert docs.size == impacts.size == 0


def _tuple_loop(seg, tid, docs, impacts, bounds, block_size):
    """The per-block tuple loop the packer ran before ``block_rows``: one
    tuple and one encode per block."""
    rows = []
    for g, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
        for b, start in enumerate(range(s, e, block_size)):
            d = docs[start : min(start + block_size, e)]
            w = impacts[start : min(start + block_size, e)]
            rows.append(
                (int(seg[g]), int(tid[g]), b, len(d), float(w.max()), int(d[0]), int(d[-1]),
                 _ref_docs_blob(d), _ref_impacts_blob(w))
            )
    return rows


@pytest.mark.parametrize("block_size", [128, 7])
def test_block_rows_match_the_tuple_loop(block_size):
    """A web_zipf-shaped batch: ~1.4 postings per (segment, term) group over
    random xxh64-style ids, plus head groups longer than one block."""
    from splade_spark.build.segments import BLOCK_SCHEMA, block_rows

    rng = np.random.default_rng(11)
    n_groups = 2_000
    sizes = np.minimum(rng.zipf(2.5, size=n_groups), 40)
    sizes[[5, 700, 1999]] = [300, 129, 2 * block_size]  # groups spanning blocks
    seg = np.repeat(np.arange(4, dtype=np.int32), n_groups // 4)
    tid = np.tile(np.arange(n_groups // 4, dtype=np.int32), 4)
    docs, impacts, _ = _random_run(rng, sizes)
    bounds = np.cumsum([0, *sizes])
    got = block_rows({"segment_id": seg, "term_id": tid}, docs, impacts, bounds, block_size)
    assert list(got.columns) == [f.name for f in BLOCK_SCHEMA.fields]
    want = _tuple_loop(seg, tid, docs, impacts, bounds, block_size)
    assert len(want) > n_groups  # some groups really span blocks
    assert [tuple(r) for r in got.itertuples(index=False)] == want
