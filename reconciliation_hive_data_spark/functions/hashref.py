"""Pure-Python reference for Spark's native string hashes.

``xxhash64`` is XXH64 with Spark's seed 42; a second column is hashed with
the first column's hash as its seed. ``murmur3`` is Spark's ``hash``:
Murmur3 x86_32 with seed 42, except that each tail byte is sign-extended
and mixed as a word of its own (Spark's pre-2.3 ``hashUnsafeBytes``, kept
for compatibility). Both take UTF-8 bytes and return the signed value
Spark returns. Spark's ``crc32`` is ``zlib.crc32``.
"""

from __future__ import annotations

import struct

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _signed(x: int, bits: int) -> int:
    return x - (1 << bits) if x >> (bits - 1) else x


def xxhash64(data: bytes, seed: int = 42) -> int:
    n, i, seed = len(data), 0, seed & _M64
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, lane) for a, lane in zip(v, lanes)]
            i += 32
        h = sum(_rotl64(a, r) for a, r in zip(v, (1, 7, 12, 18))) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl64(h ^ _round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        (word,) = struct.unpack_from("<I", data, i)
        h = (_rotl64(h ^ (word * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return _signed(h ^ (h >> 32), 64)


def _mix32(h: int, k: int) -> int:
    k = k * 0xCC9E2D51 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) * 0x1B873593 & 0xFFFFFFFF
    h ^= k
    h = (h << 13) | (h >> 19)
    return (h * 5 + 0xE6546B64) & 0xFFFFFFFF


def murmur3(data: bytes, seed: int = 42) -> int:
    n, h = len(data), seed & 0xFFFFFFFF
    aligned = n - n % 4
    for (k,) in struct.iter_unpack("<I", data[:aligned]):
        h = _mix32(h, k)
    for (b,) in struct.iter_unpack("b", data[aligned:]):
        h = _mix32(h, b & 0xFFFFFFFF)
    h ^= n
    h = (h ^ (h >> 16)) * 0x85EBCA6B & 0xFFFFFFFF
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & 0xFFFFFFFF
    return _signed(h ^ (h >> 16), 32)
