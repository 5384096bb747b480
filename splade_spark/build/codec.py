"""Posting-block binary codec (SURVEY.md §2.3 B6; FIXTURES.md §6).

Replaces the Milvus-internal SPARSE_INVERTED_INDEX segment format
(/root/reference/ingest.py:159-161) with an explicit, versioned layout:

* docIDs: signed int64, ascending within a block. Encoded as an unsigned
  LEB128 varint stream: first value zigzag-encoded, then gaps
  ``doc[i] - doc[i-1]`` (≥ 1, already non-negative) as plain varints.
* impacts: ``[version, width]`` header, then a little-endian float64 array
  (width 8, the only width), same order as docIDs.
* every blob starts with a version byte (``VERSION = 1``) so future formats
  can coexist and segment merge can read v1 forever (SURVEY.md §7 risk
  register: "binary format evolution").

Block-max metadata (n_docs, max_impact, first/last doc_id) lives in plain
parquet columns next to the blobs — readable without decoding, which is what
makes block-max WAND skipping (query/wand.py) and parquet min/max pruning
work.

Encode and decode take a run of blocks at once — one numpy pass per run,
whatever its block count (a pack-stream batch, a load batch, a WAND segment
group). ``encode_blocks`` gap/zigzag-codes every posting of the run, sizes
and scatters all their varint bytes in one pass and places one header per
block; ``decode_blocks`` strips the headers, decodes the joined varint stream
once and rebuilds the doc ids with one segmented int64 cumsum. No Python loop
runs per block or per posting; the only loops run over varint byte
positions (≤ 10).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

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


def _varint_sizes(v: np.ndarray) -> np.ndarray:
    """Byte length of each uint64's LEB128 code: ceil(bits / 7), at least 1."""
    sizes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        sizes += v >= np.uint64(1 << (7 * k))
    return sizes


def _varint_scatter(out: np.ndarray, v: np.ndarray, sizes: np.ndarray, pos: np.ndarray) -> None:
    """Write each value's LEB128 bytes into ``out`` from its ``pos`` on."""
    for b in range(int(sizes.max(initial=0))):
        sel = sizes > b  # values that have a b-th byte
        byte = ((v[sel] >> np.uint64(7 * b)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (sizes[sel] > b + 1).astype(np.uint8) << 7  # continuation bit
        out[pos[sel] + b] = byte | cont


def varint_encode(values: np.ndarray) -> bytes:
    """uint64 array → LEB128 byte stream (vectorized)."""
    v = values.astype(np.uint64, copy=False)
    sizes = _varint_sizes(v)
    out = np.empty(int(sizes.sum()), dtype=np.uint8)
    _varint_scatter(out, v, sizes, np.cumsum(sizes) - sizes)
    return out.tobytes()


def _varint_values(raw: np.ndarray) -> np.ndarray:
    """uint8 LEB128 stream → uint64 values; an unterminated tail counts as one."""
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    first = np.concatenate(([True], (raw[:-1] & 0x80) == 0))  # a value's first byte
    starts = np.flatnonzero(first)
    pos = (np.arange(raw.size) - starts[np.cumsum(first) - 1]).astype(np.uint64)
    payload = (raw & 0x7F).astype(np.uint64) << (np.uint64(7) * pos)
    return np.bitwise_or.reduceat(payload, starts)  # disjoint bits: or == sum


def varint_decode(buf: bytes | memoryview, count: int | None = None) -> np.ndarray:
    """LEB128 byte stream → uint64 array (vectorized)."""
    out = _varint_values(np.frombuffer(buf, dtype=np.uint8))
    if count is not None and out.size != count:
        raise ValueError(f"varint stream has {out.size} values, expected {count}")
    return out


def _split(buf: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """One bytes object per ``buf[offsets[i]:offsets[i + 1]]`` (object array)."""
    return pa.Array.from_buffers(
        pa.large_binary(), offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int64)), pa.py_buffer(buf)],
    ).to_numpy(zero_copy_only=False)


def encode_blocks(docs, impacts, starts) -> tuple[np.ndarray, np.ndarray]:
    """A run of blocks → (docs_bin, impacts_bin), one bytes object per block.

    ``docs`` (int64) and ``impacts`` hold the run's postings block after
    block; block b is ``[starts[b], starts[b + 1])``, the last one ending at
    ``len(docs)``. Doc ids ascend strictly within a block. A block's
    ``docs_bin`` is the version byte, its first doc id zigzag-coded, then
    the gaps to the next ids as varints; gaps are taken in uint64 modular
    arithmetic, because ascending full-range int64 ids (xxh64 values) can
    gap by more than 2^63, and decode's int64 cumsum wraps the same way.
    Its ``impacts_bin`` is ``[version, 8]`` then the float64 impacts, LE:
    float64 because block-decoded scores must agree with the naive
    double-precision DataFrame path to 1e-6 for rank-identity (SURVEY.md
    §4).
    """
    d = np.ascontiguousarray(docs, dtype=np.int64)
    w = np.ascontiguousarray(impacts, dtype="<f8")
    starts = np.asarray(starts, dtype=np.int64)
    sizes = np.diff(starts, append=d.size)
    if (sizes < 0).any() or (d.size and (not starts.size or starts[0] != 0)):
        raise ValueError("block starts must ascend from 0 within the postings")
    n_blocks = starts.size
    block = np.repeat(np.arange(n_blocks), sizes)  # block of each posting
    head = np.zeros(d.size, dtype=bool)
    head[starts[sizes > 0]] = True
    if not (d[1:] > d[:-1])[~head[1:]].all():
        raise ValueError("doc_ids must be strictly ascending within a block")

    u = d.view(np.uint64)
    vals = np.empty(d.size, dtype=np.uint64)
    vals[1:] = u[1:] - u[:-1]
    vals[head] = zigzag_encode(d[head])
    vsizes = _varint_sizes(vals)
    before = np.concatenate(([0], np.cumsum(vsizes)))  # value bytes before posting i
    hdr = before[starts] + np.arange(n_blocks)  # one version byte per block
    out = np.empty(int(before[-1]) + n_blocks, dtype=np.uint8)
    out[hdr] = VERSION
    _varint_scatter(out, vals, vsizes, before[:-1] + block + 1)
    docs_bin = _split(out, np.append(hdr, out.size))

    ihdr = 8 * starts + 2 * np.arange(n_blocks)
    iout = np.empty(8 * d.size + 2 * n_blocks, dtype=np.uint8)
    body = np.ones(iout.size, dtype=bool)
    body[ihdr] = body[ihdr + 1] = False
    iout[ihdr], iout[ihdr + 1] = VERSION, 8
    iout[body] = w.view(np.uint8)
    return docs_bin, _split(iout, np.append(ihdr, iout.size))


def _joined(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Blobs → (their bytes back to back as uint8, each blob's start + the end)."""
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs)), out=offsets[1:])
    return np.frombuffer(b"".join(blobs), dtype=np.uint8), offsets


def _reject(bad: np.ndarray, message: str, *cols: np.ndarray) -> None:
    """Raise ``message``, formatted with ``cols`` at the first bad block."""
    if bad.any():
        b = int(np.argmax(bad))
        raise ValueError(f"posting block {b}: " + message.format(*(c[b] for c in cols)))


def decode_blocks(docs_bins, impacts_bins, n_docs) -> tuple[np.ndarray, np.ndarray]:
    """A run of blocks (parallel blob/count sequences) → (doc_ids int64,
    impacts float64), concatenated in the order given.

    Every block must carry the version byte, exactly ``n_docs`` varints
    ending inside its own blob, impact width 8 and an impacts blob of
    exactly ``2 + 8·n_docs`` bytes; anything else raises ``ValueError``.
    """
    n = np.asarray(n_docs, dtype=np.int64)
    first = np.cumsum(n) - n  # each block's first posting

    raw, off = _joined(docs_bins)
    size = np.diff(off)
    _reject(size < 1, "empty doc-id blob")
    version = raw[off[:-1]]
    _reject(version != VERSION, "unknown posting-block version {}", version)
    body = np.ones(raw.size, dtype=bool)
    body[off[:-1]] = False
    payload = raw[body]
    end = off[1:] - np.arange(1, n.size + 1)  # block ends in the header-free payload
    last = (payload & 0x80) == 0  # a value's final byte
    ends_before = np.concatenate(([0], np.cumsum(last)))
    counted = ends_before[end] - ends_before[end - size + 1]
    _reject(counted != n, "varint stream has {} values, expected {}", counted, n)
    _reject((size > 1) & ~last[np.maximum(end - 1, 0)], "last varint runs past the blob")
    vals = _varint_values(payload).view(np.int64)
    heads = first[n > 0]
    vals[heads] = zigzag_decode(vals[heads].view(np.uint64))
    total = np.cumsum(vals)  # mod 2^64, like the encode's gaps
    docs = total - np.repeat(np.concatenate(([0], total))[first], n)

    iraw, ioff = _joined(impacts_bins)
    isize = np.diff(ioff)
    _reject(isize < 2, "impacts blob of {} bytes has no header", isize)
    version, width = iraw[ioff[:-1]], iraw[ioff[:-1] + 1]
    _reject(version != VERSION, "unknown posting-block version {}", version)
    _reject(width != 8, "unknown impact width {}", width)
    _reject(isize != 2 + 8 * n, "impacts blob of {} bytes, expected {}", isize, 2 + 8 * n)
    ibody = np.ones(iraw.size, dtype=bool)
    ibody[ioff[:-1]] = ibody[ioff[:-1] + 1] = False
    return docs, iraw[ibody].view("<f8").astype(np.float64, copy=False)
