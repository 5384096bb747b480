"""The oracle-replayable hashes: chunk doc ids and the portable md5 hash.

Replaces the reference's non-reproducible ``uuid.uuid4()`` primary keys
(/root/reference/ingest.py:139, see SURVEY.md §1.4): chunk identity is
``doc_id = xxh64(url_utf8 + b"\\x00" + chunk_idx_le4, seed=42)`` as a signed
int64 — deterministic across runs, engines, and the pandas oracle.

No third-party xxhash is available in the sandbox, so the algorithm is
implemented from the public XXH64 specification. It is used only inside
already-Python stages (the chunking pandas UDF and the oracle); the Spark hot
path never calls it per row outside an Arrow-batched UDF.

``portable_hash`` is the Spark column hash every oracle-replayed result
(hash embeddings, minhash shingles, samplers, sketches) keys on.
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

_M = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` with ``seed`` → unsigned 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            lanes = struct.unpack_from("<QQQQ", data, i)
            v1 = _round(v1, lanes[0])
            v2 = _round(v2, lanes[1])
            v3 = _round(v3, lanes[2])
            v4 = _round(v4, lanes[3])
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        (k1,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k1)
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def to_signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def chunk_doc_id(url: str, chunk_idx: int) -> int:
    """Deterministic signed-int64 chunk id (SURVEY.md §1.4, FIXTURES.md §2)."""
    payload = url.encode("utf-8") + b"\x00" + struct.pack("<i", chunk_idx)
    return to_signed64(xxh64(payload, seed=42))


def portable_hash(col, seed: int):
    """Portable 32-bit hash: first 8 hex chars of ``md5(term || '#seed')``.

    Engine-internal hashing elsewhere uses xxhash64 (JVM-native, faster), but
    a hash that feeds an oracle-checked result must be REPLAYABLE BY THE
    ORACLE: DuckDB computes the identical value as
    ``('0x'||substr(md5(term||'#seed'),1,8))::UBIGINT`` (tested bit-equal).
    md5 is a built-in JVM expression — stays in codegen.
    """
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))), 1, 8), 16, 10
    ).cast("long")
