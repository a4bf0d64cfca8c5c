"""Pure-Python XXH64 — the same hash Spark's ``xxhash64`` computes.

XXH64 is Yann Collet's public xxHash algorithm (BSD-licensed spec);
Spark's ``F.xxhash64`` applies it with seed 42 to each column value's
byte encoding (UTF-8 bytes for StringType) and chains multi-column
hashes by using the previous hash as the next seed.  Implementing it
driver-side means a point lookup (lake/read.py::key_bucket) can map
key → bucket in microseconds with NO Spark job — important when
lookups are interactive or issued in volume.

``tests/test_lake.py::test_python_xxh64_matches_spark`` proves
bit-for-bit equality against ``F.xxhash64`` over generated keys;
``key_bucket`` also keeps a Spark-side fallback for non-string keys.

``bucket_ids`` is the same hash over a whole column with numpy: keys
are grouped by byte length, and each length class runs the algorithm
once over a (keys x length) byte matrix, so no Python runs per key
(the driver-side apply, lake/merge.py, buckets every batch row with
it; ``tests/test_lake.py::test_vectorized_xxh64_matches_spark`` pins it
for every key length from 0 to 72 bytes).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return ((h * _P1) + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` with ``seed`` (Spark uses seed 42), returned
    as an UNSIGNED 64-bit int; see :func:`xxh64_signed` for Spark's
    LongType view."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = ((_rotl(h, 23) * _P2) + _P3) & _M
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


def xxh64_signed(data: bytes, seed: int = 42) -> int:
    """Signed 64-bit view — exactly what Spark's ``xxhash64`` column
    yields (LongType two's complement)."""
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def key_bytes(key, type_name: str | None = None) -> bytes:
    """The byte encoding Spark's ``xxhash64`` hashes for a column value:
    UTF-8 bytes for StringType, 4-byte little-endian two's complement
    for IntegerType, 8-byte for LongType (both verified bit-for-bit
    against ``F.xxhash64`` in tests/test_lake.py).  ``type_name`` is the
    icebox schema type of the column ("string"/"int"/"long") — a Python
    int alone can't distinguish Spark's int from long, and they hash
    differently.  Raises TypeError for types without a driver-side
    encoding (callers fall back to a one-row Spark plan)."""
    if isinstance(key, bool):
        raise TypeError("no driver-side xxhash64 encoding for bool keys")
    if isinstance(key, str):
        return key.encode("utf-8")
    if isinstance(key, int):
        n = 4 if type_name == "int" else 8
        return (key & ((1 << (8 * n)) - 1)).to_bytes(n, "little")
    raise TypeError(
        f"no driver-side xxhash64 encoding for {type(key).__name__} keys"
    )


def bucket_of(key, num_buckets: int, type_name: str | None = None) -> int:
    """``pmod(xxhash64(key), num_buckets)`` for a string/int/long key —
    the write path's bucket assignment (lake/write.py::bucket_expr),
    computed without Spark.  Python's ``%`` on a signed value is
    already pmod (result takes the divisor's sign)."""
    return xxh64_signed(key_bytes(key, type_name)) % num_buckets


_U = np.uint64
_NP1, _NP2, _NP3, _NP4, _NP5 = (_U(p) for p in (_P1, _P2, _P3, _P4, _P5))


def _np_rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _np_round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _np_rotl(acc + lane * _NP2, 31) * _NP1


def _np_merge_round(h: np.ndarray, v: np.ndarray) -> np.ndarray:
    return (h ^ _np_round(_U(0), v)) * _NP1 + _NP4


def _xxh64_matrix(mat: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of each row of a (keys x n) uint8 matrix — every key ``n``
    bytes long — as uint64; the same steps as :func:`xxh64`, each one
    applied to the whole column."""
    k, n = mat.shape

    def word(i: int, width: int) -> np.ndarray:
        dt = "<u8" if width == 8 else "<u4"
        return np.ascontiguousarray(mat[:, i : i + width]).view(dt).ravel().astype(_U)

    s = _U(seed)
    i = 0
    with np.errstate(over="ignore"):
        if n >= 32:
            v = [
                np.full(k, s + _NP1 + _NP2, _U),
                np.full(k, s + _NP2, _U),
                np.full(k, s, _U),
                np.full(k, s - _NP1, _U),
            ]
            while i + 32 <= n:
                v = [_np_round(v[j], word(i + 8 * j, 8)) for j in range(4)]
                i += 32
            h = _np_rotl(v[0], 1) + _np_rotl(v[1], 7) + _np_rotl(v[2], 12) + _np_rotl(v[3], 18)
            for vj in v:
                h = _np_merge_round(h, vj)
        else:
            h = np.full(k, s + _NP5, _U)
        h = h + _U(n)
        while i + 8 <= n:
            h = _np_rotl(h ^ _np_round(_U(0), word(i, 8)), 27) * _NP1 + _NP4
            i += 8
        if i + 4 <= n:
            h = _np_rotl(h ^ (word(i, 4) * _NP1), 23) * _NP2 + _NP3
            i += 4
        while i < n:
            h = _np_rotl(h ^ (mat[:, i].astype(_U) * _NP5), 11) * _NP1
            i += 1
        h ^= h >> _U(33)
        h *= _NP2
        h ^= h >> _U(29)
        h *= _NP3
        h ^= h >> _U(32)
    return h


def xxh64_column(values, type_name: str | None = None, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of every value of a column, as int64: a
    pyarrow string/int/long array (or a list of Python keys, typed by
    ``type_name`` as in :func:`key_bytes`).  NULL hashes to the seed, as
    in Spark.  Raises TypeError for other value types."""
    if not isinstance(values, (pa.Array, pa.ChunkedArray)):
        if any(isinstance(v, bool) for v in values):
            raise TypeError("no driver-side xxhash64 encoding for bool keys")
        if all(isinstance(v, str) for v in values):
            values = pa.array(values, pa.string())
        elif all(isinstance(v, int) for v in values):
            # two's complement at the column's width, as key_bytes does
            half = 1 << (31 if type_name == "int" else 63)
            values = pa.array(
                [(v + half) % (2 * half) - half for v in values],
                pa.int32() if type_name == "int" else pa.int64(),
            )
        else:
            raise TypeError("no driver-side xxhash64 encoding for these keys")
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    n = len(values)
    out = np.full(n, seed, np.int64)
    if pa.types.is_integer(values.type) and values.type.bit_width in (32, 64):
        width = values.type.bit_width // 8
        ints = values.cast(pa.int64() if width == 8 else pa.int32()).fill_null(0)
        mat = ints.to_numpy(zero_copy_only=False).astype("<i8" if width == 8 else "<i4")
        hashed = _xxh64_matrix(mat.view(np.uint8).reshape(n, width), seed).view(np.int64)
        valid = np.ones(n, bool) if values.null_count == 0 else values.is_valid().to_numpy(zero_copy_only=False)
        out[valid] = hashed[valid]
        return out
    if pa.types.is_large_string(values.type):
        values = values.cast(pa.string())
    if not pa.types.is_string(values.type):
        raise TypeError(f"no driver-side xxhash64 encoding for {values.type} columns")
    _validity, offs, data = values.buffers()
    offsets = np.frombuffer(offs, np.int32, n + 1, values.offset * 4)
    data = np.frombuffer(data, np.uint8) if data is not None else np.zeros(0, np.uint8)
    starts, lengths = offsets[:-1], np.diff(offsets)
    valid = np.ones(n, bool) if values.null_count == 0 else values.is_valid().to_numpy(zero_copy_only=False)
    for length in np.unique(lengths[valid]):
        idx = np.flatnonzero((lengths == length) & valid)
        mat = data[starts[idx, None] + np.arange(int(length))] if length else np.zeros((len(idx), 0), np.uint8)
        out[idx] = _xxh64_matrix(mat, seed).view(np.int64)
    return out


def bucket_ids(values, num_buckets: int, type_name: str | None = None) -> np.ndarray:
    """``pmod(xxhash64(key), num_buckets)`` of every value of a column —
    :func:`bucket_of` vectorized (int32 numpy array)."""
    return np.mod(xxh64_column(values, type_name), num_buckets).astype(np.int32)
