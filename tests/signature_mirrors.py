"""JVM-expression mirrors of the library's Arrow signature kernels.

The library computes MinHash and SimHash signatures only in Arrow
pandas_udfs (``dedup.minhash_signature_udf``,
``text.simhash32_udf``). The expression forms below are built from
Spark's own ``xxhash64`` / ``md5`` / ``lower`` / ``trim`` / ``split``,
so they are the reference the UDFs must equal bit for bit
(tests/test_vectorized_signatures.py). ``*_mirror_udf`` take the same
arguments as the library factories, so a test can monkeypatch one over
the other and run a whole dedup pipeline on the expression kernel.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from recipys_spark.functions.text import tokens
from recipys_spark.operators.dedup import KM_PRIME


def _token_hash_expr(t, hash_family: str):
    """Per-token 64-bit hash column: xxhash64, or the 60-bit md5
    prefix (the portable family, mirrored in DuckDB as SQL_SIMHASH)."""
    if hash_family == "xxhash64":
        return F.xxhash64(t)
    if hash_family != "md5":
        raise ValueError("hash_family must be 'xxhash64' or 'md5'")
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash32(col, hash_family: str = "xxhash64"):
    """32-bit SimHash over whitespace tokens: each distinct token
    hashes once; bit i is 1 iff the sum over tokens of ±1 (by the
    token hash's bit i) is positive. NULL text hashes to 0."""
    toks = F.array_distinct(tokens(col))
    out = F.lit(0).cast("long")
    for i in range(32):
        bit_sum = F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + F.when(
                F.shiftright(_token_hash_expr(t, hash_family), i).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1),
        )
        out = out + F.when(bit_sum > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def minhash_signature(toks_col, num_hashes: int, seed: int = 42,
                      hash_family: str = "xxhash64"):
    """Array of num_hashes MinHash values over a token array column.

    ``"xxhash64"``: one xxhash64 per (token, seed+i). ``"md5"``:
    Kirsch–Mitzenmacher double hashing h_i = (h1 + i·h2) mod KM_PRIME
    over the two 60-bit halves of the token's md5. An empty array gives
    NULL in every slot."""
    if hash_family == "xxhash64":
        return F.array(
            *[
                F.array_min(
                    F.transform(toks_col, lambda t: F.xxhash64(t, F.lit(seed + i)))
                )
                for i in range(num_hashes)
            ]
        )
    if hash_family != "md5":
        raise ValueError("hash_family must be 'xxhash64' or 'md5'")
    p = F.lit(KM_PRIME)
    # nested transform: md5 evaluated once per token, then both 60-bit
    # halves parsed from the hex
    pairs = F.transform(
        F.transform(toks_col, lambda t: F.md5(t)),
        lambda h: F.struct(
            (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % p).alias("a"),
            (F.conv(F.substring(h, 16, 15), 16, 10).cast("long") % p).alias("b"),
        ),
    )
    return F.array(
        *[
            F.array_min(
                F.transform(pairs, lambda s: (s["a"] + F.lit(i) * s["b"]) % p)
            )
            for i in range(num_hashes)
        ]
    )


def minhash_mirror_udf(num_hashes: int, seed: int = 42,
                       hash_family: str = "xxhash64"):
    """Drop-in for ``dedup.minhash_signature_udf`` built on the
    expression mirror."""
    return lambda toks: minhash_signature(toks, num_hashes, seed, hash_family)


def simhash32_mirror_udf(hash_family: str = "xxhash64"):
    """Drop-in for ``text.simhash32_udf`` built on the expression
    mirror."""
    return lambda col: simhash32(col, hash_family)
