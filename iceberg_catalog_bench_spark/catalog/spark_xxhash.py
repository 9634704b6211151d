"""Spark's ``xxhash64`` and the legacy ``bucket`` transform, bit-exact
on the driver.

The native ``bucket(N, c)`` partition transform is
``pmod(xxhash64(c), N)`` (:mod:`.transforms`). Pruning a predicate
literal needs that value on the driver; a 1-row Spark eval per literal
costs a job each, so this module copies Spark's ``XXH64`` (the public
xxHash64 algorithm, read as little-endian words, seed 42) in pure
Python. Spark hashes each SQL type through one of three entry points:

=====================  ===============================================
type                   entry point
=====================  ===============================================
tinyint/smallint/int   ``hashInt`` of the sign-extended 32-bit value
bigint                 ``hashLong``
string                 ``hashUnsafeBytes`` of the UTF-8 bytes
=====================  ===============================================

``tests/test_spark_xxhash.py`` pins all three against Spark's own
``xxhash64`` and ``pmod``, including every byte-tail branch.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
SEED = 42  # Spark's XxHash64 expression seed

# bit width of the integral types Spark hashes; a literal outside its
# column type's range has no exact driver-side value (Spark's cast
# either wraps or raises)
INT_BITS = {"tinyint": 8, "byte": 8, "smallint": 16, "short": 16,
            "int": 32, "integer": 32, "bigint": 64, "long": 64}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def hash_int(v: int, seed: int = SEED) -> int:
    """``XXH64.hashInt``: the 32-bit two's-complement value."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((v & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _signed(_fmix(h))


def hash_long(v: int, seed: int = SEED) -> int:
    """``XXH64.hashLong``: the 64-bit two's-complement value."""
    h = (seed + _P5 + 8) & _M64
    h ^= _round(0, v & _M64)
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    return _signed(_fmix(h))


def hash_bytes(data: bytes, seed: int = SEED) -> int:
    """``XXH64.hashUnsafeBytes``: 32-byte stripes, then 8-byte words,
    one 4-byte word, and single bytes."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    return _signed(_fmix(h))


def fits(val: object, base_type: str) -> bool:
    """Whether ``val`` is a value of ``base_type`` as it stands: an
    integral value inside the type's range, or a string under
    ``string``."""
    bits = INT_BITS.get(base_type)
    if bits is not None:
        return (isinstance(val, int) and not isinstance(val, bool)
                and -(1 << (bits - 1)) <= val < (1 << (bits - 1)))
    return base_type == "string" and isinstance(val, str)


def xxhash64(val: int | str | None, base_type: str) -> int:
    """Spark's ``xxhash64(CAST(val AS base_type))`` for a ``val`` that
    :func:`fits` ``base_type``; NULL hashes to the seed, as in Spark.
    Raises ``ValueError`` otherwise."""
    if val is None:
        return SEED
    if not fits(val, base_type):
        raise ValueError(f"no exact xxhash64 of {val!r} as {base_type}")
    if base_type == "string":
        return hash_bytes(val.encode("utf-8"))
    return hash_long(val) if INT_BITS[base_type] == 64 else hash_int(val)


def bucket(val: int | str | None, base_type: str, n: int) -> int:
    """The legacy ``bucket(n, c)`` value: ``pmod(xxhash64(c), n)``."""
    return xxhash64(val, base_type) % n
