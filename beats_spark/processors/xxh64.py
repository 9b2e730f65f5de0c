"""XXH64 — from-scratch implementation, byte-compatible with Go's
cespare/xxhash (the reference fingerprint method, see
libbeat/processors/fingerprint/hash.go:28-57 and the test vector
fingerprint_test.go:92 ``xxhash -> 37bc50682fba6686``).

The algorithm is Yann Collet's public XXH64 specification
(https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md), as a
scalar function over one byte string. The fingerprint processor hashes in
the JVM (Spark's ``xxhash64``, seed-chained to seed 0); this function is
its test oracle (no ``xxhash`` package is assumed to be installed) and
gives ``ml.similarity`` the Python value of Spark's ``xxhash64`` of an INT
(seed 42 over its 4 little-endian bytes).
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 0) -> int:
    """Scalar XXH64 per the public spec; reference/oracle path."""
    n = len(data)
    pos = 0
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _M
        a2 = (seed + _P2) & _M
        a3 = seed & _M
        a4 = (seed - _P1) & _M
        while pos + 32 <= n:
            a1 = _round(a1, int.from_bytes(data[pos:pos + 8], "little"))
            a2 = _round(a2, int.from_bytes(data[pos + 8:pos + 16], "little"))
            a3 = _round(a3, int.from_bytes(data[pos + 16:pos + 24], "little"))
            a4 = _round(a4, int.from_bytes(data[pos + 24:pos + 32], "little"))
            pos += 32
        acc = (_rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)) & _M
        for a in (a1, a2, a3, a4):
            acc = ((acc ^ _round(0, a)) * _P1 + _P4) & _M
    else:
        acc = (seed + _P5) & _M
    acc = (acc + n) & _M
    while pos + 8 <= n:
        lane = int.from_bytes(data[pos:pos + 8], "little")
        acc = (_rotl(acc ^ _round(0, lane), 27) * _P1 + _P4) & _M
        pos += 8
    if pos + 4 <= n:
        lane = int.from_bytes(data[pos:pos + 4], "little")
        acc = (_rotl(acc ^ (lane * _P1 & _M), 23) * _P2 + _P3) & _M
        pos += 4
    while pos < n:
        acc = (_rotl(acc ^ (data[pos] * _P5 & _M), 11) * _P1) & _M
        pos += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M
    acc ^= acc >> 29
    acc = (acc * _P3) & _M
    acc ^= acc >> 32
    return acc
