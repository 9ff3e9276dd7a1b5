"""Delta-gap + varint block codec — numpy-vectorized (no per-value Python).

Posting blocks store doc_ids (delta-gapped), tfs, doc_lens and positions
as LEB128-style varints: 7 payload bits per byte, high bit = continuation.
Encode/decode loop over *byte positions* (<= 10 iterations for uint64),
never over values — each iteration is a whole-array numpy op, which is
what keeps the Arrow-UDF hot path vectorized (north_rule: no per-row
Python).
"""

from __future__ import annotations

import numpy as np


# 128^1 .. 128^9: value v needs searchsorted(THRESH, v, 'right')+1 bytes
_THRESH = (np.uint64(128) ** np.arange(1, 10, dtype=np.uint64)).astype(np.uint64)


def _varint_bytes_into(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(encoded uint8 buffer, per-value byte counts) for a uint64 array."""
    nbytes = (np.searchsorted(_THRESH, v, side="right") + 1).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]) if v.size else 0, dtype=np.uint8)
    rem = v.copy()
    for i in range(int(nbytes.max()) if v.size else 0):
        active = nbytes > i
        idx = starts[active] + i
        chunk = (rem[active] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[active] > i + 1).astype(np.uint8) << 7
        out[idx] = chunk | cont
        rem[active] >>= np.uint64(7)
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """uint64/int64 ndarray -> varint bytes. Values must be >= 0."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    out, _ = _varint_bytes_into(v)
    return out.tobytes()


def varint_encode_segmented(
    values: np.ndarray, seg_starts: np.ndarray, seg_ends: np.ndarray
) -> list[bytes]:
    """Encode the WHOLE array in one vectorized pass, then slice per
    segment (value-index bounds). Byte-identical to calling varint_encode
    on each segment — varints are per-value independent. This is the
    block-builder hot path: numpy op overhead amortizes over millions of
    values instead of being paid per 128-value block."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b"" for _ in range(len(seg_starts))]
    out, nbytes = _varint_bytes_into(v)
    byte_off = np.concatenate(([0], np.cumsum(nbytes)))
    ob = out.tobytes()
    return [ob[byte_off[s] : byte_off[e]] for s, e in zip(seg_starts, seg_ends)]


def varint_encode_all(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode the whole array once; returns (buffer, byte offset per value
    index, len n+1) so callers can slice arbitrary value ranges out of the
    buffer without re-encoding (varints are per-value independent)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    out, nbytes = _varint_bytes_into(v)
    return out.tobytes(), np.concatenate(([0], np.cumsum(nbytes)))


def varint_decode(buf: bytes) -> np.ndarray:
    """varint bytes -> uint64 ndarray."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    # value index for every byte, then bit position within its value
    value_idx = np.cumsum(is_end) - is_end.astype(np.int64)  # 0-based group id
    within = np.arange(b.size, dtype=np.int64) - starts[value_idx]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * within.astype(np.uint64))
    # payload bit-ranges are disjoint per value, so add == bitwise-or
    return np.add.reduceat(contrib, starts)


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    """Strictly-increasing int array -> [first, gaps...]."""
    v = np.ascontiguousarray(sorted_vals, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.ascontiguousarray(gaps, dtype=np.uint64), dtype=np.uint64)


def encode_ids(sorted_ids: np.ndarray) -> bytes:
    return varint_encode(delta_encode(sorted_ids))


def decode_ids(buf: bytes) -> np.ndarray:
    return delta_decode(varint_decode(buf))


_SIGN = np.uint64(1 << 63)


def i64_to_u64_order(ids: np.ndarray) -> np.ndarray:
    """Order-preserving int64 -> uint64 map (XOR sign bit). Lets delta-gap
    encoding work on xxhash64 doc_ids, which may be negative."""
    return np.ascontiguousarray(ids, dtype=np.int64).view(np.uint64) ^ _SIGN


def u64_to_i64_order(u: np.ndarray) -> np.ndarray:
    return (np.ascontiguousarray(u, dtype=np.uint64) ^ _SIGN).view(np.int64)


def decode_ids_signed(buf: bytes) -> np.ndarray:
    return u64_to_i64_order(delta_decode(varint_decode(buf)))


def encode_positions(pos_lists: list[np.ndarray]) -> bytes:
    """Concatenate per-doc position lists, each delta-gapped within the
    doc. Lengths are recoverable from the tfs array, so no length prefix."""
    if not pos_lists:
        return b""
    parts = [delta_encode(np.asarray(p, dtype=np.uint64)) for p in pos_lists]
    return varint_encode(np.concatenate(parts) if parts else np.empty(0, np.uint64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    flat = varint_decode(buf)
    out = []
    off = 0
    for tf in np.asarray(tfs, dtype=np.int64):
        out.append(delta_decode(flat[off : off + tf]))
        off += tf
    return out


def decode_chunk_rows(row):
    """Decode one flat-chunk row (build.FLAT_SCHEMA) back to per-doc
    postings: yields (doc_id, tf, positions, doc_len). Test/verification
    helper — the engine never decodes chunks row-at-a-time in a hot path
    (the blocks kernel consumes them vectorized)."""
    ids = decode_ids_signed(bytes(row["doc_ids"]))
    tfs = varint_decode(bytes(row["tfs"]))
    dls = varint_decode(bytes(row["doc_lens"]))
    pvals, poffs = decode_positions_flat(bytes(row["positions"]), tfs)
    for i, did in enumerate(ids):
        yield (
            int(did),
            int(tfs[i]),
            [int(x) for x in pvals[poffs[i] : poffs[i + 1]]],
            int(dls[i]),
        )


def decode_positions_flat(buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized twin of decode_positions: one segmented cumsum instead
    of a per-doc loop. Returns (values, offsets) with len(offsets) ==
    len(tfs)+1; doc i's positions are values[offsets[i]:offsets[i+1]]."""
    gaps = varint_decode(buf)
    tfs = np.asarray(tfs, dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(tfs)))
    if gaps.size == 0:
        return gaps, offsets
    csum = np.cumsum(gaps, dtype=np.uint64)
    starts = offsets[:-1][tfs > 0]
    # subtract, for every element, the running total at its segment start
    # (exclusive), restoring per-segment absolute positions
    base_at_start = csum[starts] - gaps[starts]
    lens = tfs[tfs > 0]
    values = csum - np.repeat(base_at_start, lens)
    return values, offsets


# --------------------------------------------------------------- xxhash64
# Pure-Python twin of Spark's xxhash64() (XXH64, default seed 42, over a
# string's UTF-8 bytes). Lets the query planner compute a term's bucket
# WITHOUT a Spark job (round 2 paid one tiny JVM round-trip per cold
# query just to hash the terms). Byte-compatibility with the JVM
# implementation is asserted by tests/test_codec.py over a fuzz corpus.
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _XP2) & _M64
    return (_rotl64(acc, 31) * _XP1) & _M64


def _xxh_merge(h: int, v: int) -> int:
    h ^= _xxh_round(0, v)
    return (h * _XP1 + _XP4) & _M64


def xxhash64(data: bytes | str, seed: int = 42) -> int:
    """XXH64(data, seed) as a SIGNED 64-bit int — identical to Spark's
    ``F.xxhash64(string_col)`` for string input (Spark's default seed is
    42 and strings hash as their UTF-8 bytes)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            v1 = _xxh_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        h = _xxh_merge(h, v1)
        h = _xxh_merge(h, v2)
        h = _xxh_merge(h, v3)
        h = _xxh_merge(h, v4)
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XP1) & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XP5) & _M64
        h = (_rotl64(h, 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h
