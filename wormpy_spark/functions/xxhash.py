"""Pure-Python XXH64 matching Spark SQL's ``xxhash64`` expression.

The crawl loop's driver fast path (plans/crawl.py) computes the same
``host_shard = pmod(xxhash64(host), n_host_shards)`` values the Spark
path computes, so pages and frontier snapshots written driver-side
carry the same lineage column as Spark-written ones. Spark's xxhash64 is
XXH64 (Yann Collet's public xxHash spec) with seed 42 over the UTF-8
bytes of the string, returned as a SIGNED 64-bit long — parity is
property-tested against the Spark expression in tests/test_urlnorm.py.
"""

from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data``; returns Spark's signed-long interpretation."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            for _lane in range(4):
                k = int.from_bytes(data[i : i + 8], "little")
                if _lane == 0:
                    v1 = (_rotl((v1 + k * _P2) & _M, 31) * _P1) & _M
                elif _lane == 1:
                    v2 = (_rotl((v2 + k * _P2) & _M, 31) * _P1) & _M
                elif _lane == 2:
                    v3 = (_rotl((v3 + k * _P2) & _M, 31) * _P1) & _M
                else:
                    v4 = (_rotl((v4 + k * _P2) & _M, 31) * _P1) & _M
                i += 8
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
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
    # signed long, as Spark returns it
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64_str(s: str, seed: int = 42) -> int:
    return xxhash64(s.encode("utf-8"), seed)


def pmod(a: int, b: int) -> int:
    """Spark's pmod: non-negative remainder for signed ``a``."""
    return ((a % b) + b) % b
