"""Pure-Python reimplementation of Spark's ``xxhash64`` expression.

Why this exists: the MinHash / SimHash / hyperplane-LSH signatures
derive their randomness from xxhash64, so signatures are reproducible
on any cluster with no side data and agree with ``F.xxhash64``.
MinHash and SimHash are computed only in Arrow pandas_udfs
(``dedup.minhash_signature_udf``, ``text.simhash32_udf``): the
equivalent JVM expressions are num_hashes or 32 interpreted
higher-order passes per row. The hyperplane signature is a JVM
expression below ``similarity.VECTORIZE_EXPR_NODES`` and a UDF above
it (a 64-plane × 768-dim signature is ~10^5 expression nodes per row).
Every UDF needs the SAME hash values as Spark — so this module ports
the exact algorithm (xxHash64 as Spark implements it in catalyst
XXH64: 8-byte-block little-endian stripes, 4-byte chunk, byte tail,
seed 42) and is pinned by tests against live ``F.xxhash64`` output for
longs, chained longs, ints, and UTF-8 strings including the >=32-byte
block path; the MinHash/SimHash expression references live in
tests/signature_mirrors.py.

Scope: only the input types the engine uses — LongType (and chains of
longs, Spark folds multi-arg xxhash64 by re-seeding with the previous
hash), IntegerType, and StringType bytes.
"""

from __future__ import annotations

from functools import lru_cache

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_SEED = 42  # Spark's default xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def to_signed(x: int) -> int:
    """uint64 -> the int64 Spark returns."""
    return x - (1 << 64) if x >= (1 << 63) else x


def hash_long(value: int, seed: int = SPARK_SEED) -> int:
    """xxhash64 of one LongType value (unsigned result)."""
    value &= _M
    seed &= _M
    h = (seed + _P5 + 8) & _M
    k1 = (_rotl((value * _P2) & _M, 31) * _P1) & _M
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def hash_int(value: int, seed: int = SPARK_SEED) -> int:
    """xxhash64 of one IntegerType value (unsigned result)."""
    seed &= _M
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def hash_longs(values, seed: int = SPARK_SEED) -> int:
    """Spark's multi-argument ``xxhash64(a, b, ...)`` over longs: each
    field is hashed with the running hash as its seed."""
    h = seed
    for v in values:
        h = hash_long(v, h)
    return h


def hash_ints(values, seed: int = SPARK_SEED) -> int:
    """Multi-argument xxhash64 over IntegerType literals (what
    ``F.xxhash64(F.lit(p), F.lit(i), F.lit(s))`` actually hashes —
    bare Python-int literals become IntegerType)."""
    h = seed
    for v in values:
        h = hash_int(v, h)
    return h


def hash_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """xxhash64 of a byte string (StringType hashes its UTF-8 bytes)."""
    import struct

    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, i)
            v1 = (_rotl((v1 + k1 * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + k2 * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + k3 * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + k4 * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            k = (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = ((h ^ k) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        k = (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (h ^ k) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (h ^ ((k * _P1) & _M)) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (h ^ ((data[i] * _P5) & _M)) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


@lru_cache(maxsize=1 << 20)
def hash_token(token: str, seed: int = SPARK_SEED) -> int:
    """Signed xxhash64 of a string, memoized — token vocabularies are
    zipfian, so the cache absorbs most of the per-token hashing cost
    inside a long-lived Python worker."""
    return to_signed(hash_bytes(token.encode("utf-8"), seed))


@lru_cache(maxsize=1 << 20)
def hash_token_md5(token: str) -> int:
    """Portable 60-bit token hash: the first 15 hex chars of md5 —
    the ``hash_family="md5"`` mirror of Spark's
    ``conv(substring(md5(t),1,15),16,10)`` / DuckDB's hex cast.
    Module-level (not a closure) so pandas_udfs that capture it stay
    picklable."""
    import hashlib

    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16)


@lru_cache(maxsize=1 << 20)
def hash_token_md5_pair(token: str) -> "tuple[int, int]":
    """Both 60-bit md5 halves (hex chars 1–15 and 16–30, 1-indexed as
    in Spark's substring) — the Kirsch–Mitzenmacher (h1, h2) basis of
    the portable MinHash family. Raw (un-modded) so callers apply
    their own modulus."""
    import hashlib

    h = hashlib.md5(token.encode("utf-8")).hexdigest()
    return int(h[:15], 16), int(h[15:30], 16)
