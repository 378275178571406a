"""Pure-Python XXH64 with Spark hash parity.

The value→file indexes shard by ``pmod(xxhash64(value), nshards)``
(Spark-side expression, ``index.py ValueIndex._spark_build``). A point
lookup that needs a Spark job just to learn its operand's shard id
costs a cluster round-trip for what is arithmetic — this module
computes the SAME hash driver-side so point probes can seek straight
into the matching shard files (the engine's analog of Hudi's
metadata-table record index being served by HFile seeks, not Spark
jobs).

XXH64 is Yann Collet's public-domain algorithm (github.com/Cyan4973/
xxHash, BSD); Spark's ``F.xxhash64`` applies it to each column's bytes
— for a STRING column, the UTF-8 bytes — with seed 42. Parity with the
JVM expression is pinned by ``tests/test_xxh.py`` over random and
boundary-length inputs; every consumer MUST keep using the same bytes
convention (utf-8 of the record-key string).
"""
from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

#: Spark's XxHash64 expression default seed (Catalyst XxHash64.seed)
SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of ``data`` — returns the SIGNED 64-bit value Spark's
    ``F.xxhash64`` yields for the same bytes and seed."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
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
    # two's-complement to Spark's signed LongType
    return h - (1 << 64) if h >= (1 << 63) else h


def shard_of(key: str | None, nshards: int) -> int:
    """``pmod(xxhash64(key), nshards)`` — the exact shard id the
    writer's Spark expression assigns ``key`` (pmod is non-negative).
    A null key leaves Spark's hash at the seed (XxHash64 skips null
    fields), mirrored here; record keys are non-null by construction,
    this is defense in depth."""
    if key is None:
        return SPARK_SEED % nshards
    return xxh64(key.encode("utf-8")) % nshards
