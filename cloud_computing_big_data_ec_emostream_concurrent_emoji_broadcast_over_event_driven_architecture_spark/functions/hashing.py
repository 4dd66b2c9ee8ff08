"""Deterministic cross-engine hashing primitives.

The dedup operators need hash functions that DuckDB can reproduce exactly
(the oracle runs the SAME pipeline in SQL), so instead of Spark's
``xxhash64``/``hash`` (engine-private algorithms) everything is built on
md5, which both engines ship:

    Spark : conv(substring(md5(s), 1, 11), 16, 10)  -> bigint  (44 bits)
    DuckDB: CAST('0x' || substr(md5(s), 1, 11) AS BIGINT)

44 bits keeps ``a * h + b`` inside int64 under ANSI overflow checking
(a < 2^18, h < 2^44 → product < 2^62).

MinHash: k=16 signatures from universal hashing
``(a_i * h + b_i) mod P`` with P = 2^61 - 1 (Mersenne prime), banded 4×4
for the LSH candidate join. Constants are generated once from a fixed seed
and templated into BOTH the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MD5_HEX_CHARS = 11  # 44 bits
MERSENNE_P = (1 << 61) - 1
NUM_HASHES = 16
BAND_SIZE = 4
NUM_BANDS = NUM_HASHES // BAND_SIZE

_rng = random.Random(42)
MINHASH_AB: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 18), _rng.randrange(0, 1 << 18))
    for _ in range(NUM_HASHES)
]


def md5_long(col: Column) -> Column:
    """44-bit integer hash of a string column, reproducible in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, MD5_HEX_CHARS), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL computing the same 44-bit hash of ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {MD5_HEX_CHARS})) AS BIGINT)"


def _universal_hash(a: int, b: int):
    """Single-arg lambda factory (PySpark infers HOF arity from the Python
    lambda's parameter count, so constants must be closed over, not
    defaulted)."""

    def f(h: Column) -> Column:
        return (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)

    return f


def minhash_signature(hashed_shingles: Column) -> Column:
    """Array of NUM_HASHES minhash values over an array<long> of shingle
    hashes. Pure built-ins: transform + array_min per hash function, so
    an empty shingle array gives NUM_HASHES nulls (``array_min`` of an
    empty array), whatever the call site filters. A single aggregate
    fold over all 16 minima measured about 1.5x slower in executor work
    and gave MAX_LONG seeds on empty input, so it is not used."""
    return F.array(
        *[
            F.array_min(F.transform(hashed_shingles, _universal_hash(a, b)))
            for a, b in MINHASH_AB
        ]
    )


def minhash_signature_sql(hashed_col: str) -> list[str]:
    """DuckDB SQL expressions (one per hash fn) mirroring
    :func:`minhash_signature`, as aggregates over an unnested hash column."""
    return [
        f"MIN(({a} * {hashed_col} + {b}) % {MERSENNE_P})"
        for a, b in MINHASH_AB
    ]
