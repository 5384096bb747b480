"""Posting-block binary codec (SURVEY.md §2.3 B6; FIXTURES.md §6).

Replaces the Milvus-internal SPARSE_INVERTED_INDEX segment format
(/root/reference/ingest.py:159-161) with an explicit, versioned layout:

* docIDs: signed int64, ascending within a block. Encoded as an unsigned
  LEB128 varint stream: first value zigzag-encoded, then gaps
  ``doc[i] - doc[i-1]`` (≥ 1, already non-negative) as plain varints.
* impacts: ``[version, width]`` header, then a little-endian float array
  (width 8 = float64, the default; width 4 = float32), same order as docIDs.
* every blob starts with a version byte (``VERSION = 1``) so future formats
  can coexist and segment merge can read v1 forever (SURVEY.md §7 risk
  register: "binary format evolution").

Block-max metadata (n_docs, max_impact, first/last doc_id) lives in plain
parquet columns next to the blobs — readable without decoding, which is what
makes block-max WAND skipping (query/wand.py) and parquet min/max pruning
work.

Both encode and decode are numpy-vectorized (no per-posting Python loops):
encode computes per-value varint byte lengths and scatters bytes by offset;
decode classifies continuation bits, groups bytes by value with a cumsum, and
reduces each group with shift-accumulate passes bounded by the max varint
width (≤ 10 bytes).
"""

from __future__ import annotations

import numpy as np

VERSION = 1
_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """int64 → uint64 zigzag (small magnitudes → small codes)."""
    v = v.astype(np.int64, copy=False)
    return ((v.astype(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).astype(np.uint64)) & _MASK64


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)) ^ (-(u & np.uint64(1)).astype(np.int64)).astype(np.uint64)).astype(
        np.int64
    )


def varint_encode(values: np.ndarray) -> bytes:
    """uint64 array → LEB128 byte stream (vectorized)."""
    v = values.astype(np.uint64, copy=False)
    if v.size == 0:
        return b""
    # byte length of each value: ceil(bits/7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = tmp >= (np.uint64(1) << np.uint64(shift))
        nbits[mask] += shift
        tmp[mask] >>= np.uint64(shift)
    nbytes = np.maximum((nbits + 7) // 7, 1)

    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # start offset of each value's byte run
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    maxlen = int(nbytes.max())
    for b in range(maxlen):
        sel = nbytes > b  # values that have a b-th byte
        byte = ((v[sel] >> np.uint64(7 * b)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] > b + 1).astype(np.uint8) << 7  # continuation bit
        out[starts[sel] + b] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes | memoryview, count: int | None = None) -> np.ndarray:
    """LEB128 byte stream → uint64 array (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    cont = (raw & 0x80) != 0
    # value id of each byte: 0-based group index — a new value starts at
    # position 0 and after every byte whose continuation bit is clear.
    ends = ~cont
    value_id = np.empty(raw.size, dtype=np.int64)
    value_id[0] = 0
    np.cumsum(ends[:-1], out=value_id[1:])
    n_values = int(value_id[-1]) + 1
    # position of each byte within its value
    starts = np.concatenate(([0], np.nonzero(ends)[0][:-1] + 1))
    pos = np.arange(raw.size, dtype=np.int64) - starts[value_id]
    out = np.zeros(n_values, dtype=np.uint64)
    payload = (raw & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    np.add.at(out, value_id, payload)
    if count is not None and n_values != count:
        raise ValueError(f"varint stream has {n_values} values, expected {count}")
    return out


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Ascending int64 docIDs → version byte + zigzag(first) + gap varints."""
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return bytes([VERSION])
    gaps = np.empty(d.size, dtype=np.uint64)
    gaps[0] = zigzag_encode(d[:1])[0]
    if d.size > 1:
        # Validate order by direct comparison, then take deltas in uint64
        # modular arithmetic: ascending int64 pairs can gap by more than
        # 2^63 (doc_ids are full-range xxh64 values), where np.diff on
        # int64 wraps negative. u[i]-u[i-1] mod 2^64 is exact for any
        # ascending int64 pair, and decode's int64 cumsum reconstructs
        # correctly under the same wraparound.
        if not (d[1:] > d[:-1]).all():
            raise ValueError("doc_ids must be strictly ascending within a block")
        u = d.astype(np.uint64)
        gaps[1:] = u[1:] - u[:-1]
    return bytes([VERSION]) + varint_encode(gaps)


def decode_doc_ids(blob: bytes, n_docs: int) -> np.ndarray:
    mv = memoryview(blob)
    if mv[0] != VERSION:
        raise ValueError(f"unknown posting-block version {mv[0]}")
    if n_docs == 0:
        return np.empty(0, dtype=np.int64)
    gaps = varint_decode(mv[1:], count=n_docs)
    first = zigzag_decode(gaps[:1])[0]
    out = np.empty(n_docs, dtype=np.int64)
    out[0] = first
    if n_docs > 1:
        np.cumsum(gaps[1:].astype(np.int64), out=out[1:])
        out[1:] += first
    return out


def encode_impacts(impacts: np.ndarray, width: int = 8) -> bytes:
    """Impact array → [version, width] + LE float bytes.

    width=8 (float64) is the default: block-decoded scores must agree with the
    naive double-precision DataFrame path to 1e-6 for rank-identity
    (SURVEY.md §4); float32 storage (width=4) is available where 4 bytes/
    posting matter more than sub-1e-6 score agreement.
    """
    if width not in (4, 8):
        raise ValueError("impact width must be 4 or 8")
    dtype = "<f4" if width == 4 else "<f8"
    return bytes([VERSION, width]) + np.asarray(impacts, dtype=dtype).tobytes()


def decode_impacts(blob: bytes, n_docs: int) -> np.ndarray:
    mv = memoryview(blob)
    if mv[0] != VERSION:
        raise ValueError(f"unknown posting-block version {mv[0]}")
    width = mv[1]
    dtype = "<f4" if width == 4 else "<f8"
    return np.frombuffer(mv, dtype=dtype, count=n_docs, offset=2)


def decode_blocks(docs_bins, impacts_bins, n_docs) -> tuple[np.ndarray, np.ndarray]:
    """A run of blocks (parallel blob/count sequences) → (doc_ids int64,
    impacts float64), concatenated in the order given."""
    docs = [decode_doc_ids(b, n) for b, n in zip(docs_bins, n_docs)]
    impacts = [decode_impacts(b, n) for b, n in zip(impacts_bins, n_docs)]
    if not docs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    return np.concatenate(docs), np.concatenate(impacts).astype(np.float64, copy=False)
