"""Portable deterministic hashing for dedup/sketch operators.

Spark's ``hash()``/``xxhash64()`` and DuckDB's ``hash()`` are different
functions, so sketches built on them could never be oracle-checked. We
instead derive a 60-bit integer from an md5 prefix — md5 is bit-identical
in every engine — and derive per-seed MinHash families from ONE such hash
via affine integer mixing (16x fewer md5 evaluations than salted hashing).

Spark:  conv(substr(md5(x), 1, 15), 16, 10) :: bigint
DuckDB: cast('0x' || substr(md5(x), 1, 15) as bigint)

60 bits keeps the value inside a signed int64 in both engines.

Used by ``operators.dedup`` (MinHash+LSH, SimHash — the hw3 pipeline
``hw3/hw3.py:84-172`` re-expressed without driver-side vocabulary).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_HEX_CHARS = 15  # 60 bits < 2^63


def portable_hash64(col: Column, salt: str = "") -> Column:
    """Deterministic 60-bit hash of a string column (optionally salted)."""
    salted = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(salted), 1, HASH_HEX_CHARS), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str, salt: str = "") -> str:
    """DuckDB twin of :func:`portable_hash64`."""
    salted = f"concat('{salt}', {expr})" if salt else expr
    return f"cast('0x' || substr(md5({salted}), 1, {HASH_HEX_CHARS}) as bigint)"


def hash_bucket(col: str, salt: str, n: int) -> Column:
    """Deterministic slice id 0..n-1 of column ``col`` (salted) — the
    hash slices that cut arrival, deletion and revision batches."""
    return portable_hash64(F.col(col).cast("string"), salt=salt) % n


def hash_bucket_sql(col: str, salt: str, n: int) -> str:
    """DuckDB twin of :func:`hash_bucket`."""
    return f"({portable_hash64_sql(f'cast({col} as varchar)', salt)} % {n})"


#: Mersenne prime 2^31-1: affine MinHash mixing stays inside 62 bits, so
#: products never overflow a signed int64 in EITHER engine (DuckDB errors
#: on bigint overflow; Spark would silently wrap — both avoided).
MERSENNE31 = 2_147_483_647


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i = (a*h + b) mod p, a != 0."""
    import numpy as np

    rng = np.random.RandomState(7)
    return [
        (int(rng.randint(1, MERSENNE31)), int(rng.randint(0, MERSENNE31)))
        for _ in range(num_hashes)
    ]


def affine_minhash_exprs(base_hash: Column, num_hashes: int) -> list[Column]:
    """ONE md5 per value (``base_hash``), then cheap integer mixing per
    seed — the seeded hash family for MinHash signatures."""
    h32 = base_hash % MERSENNE31
    return [
        ((F.lit(a) * h32 + F.lit(b)) % MERSENNE31).alias(f"h{i}")
        for i, (a, b) in enumerate(_affine_params(num_hashes))
    ]


def affine_minhash_exprs_sql(base_hash_sql: str, num_hashes: int) -> list[str]:
    h32 = f"(({base_hash_sql}) % {MERSENNE31})"
    return [
        f"(({a} * {h32} + {b}) % {MERSENNE31})"
        for (a, b) in _affine_params(num_hashes)
    ]
