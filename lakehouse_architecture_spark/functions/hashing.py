"""Portable deterministic hashing.

Engine-internal hashes (xxhash64, crc32, DuckDB's ``hash()``) differ across
engines, so operators whose output must be oracle-checkable derive integer
hashes from **md5 hex digests**, which are universal:

    hash64(s) = int(md5(s)[0:15], 16)        -- 60-bit non-negative

Spark:  ``CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)``
DuckDB: ``CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)``

Both verified bit-identical (tools/parity_probe.py and
tools/parity_probe_spark.py at commit f6e8d4c). md5 is used as a
*deterministic mixer*, not for security.

MinHash permutations use universal hashing h_i(x) = (a_i·x + b_i) mod p with
p = 1e9+7 so products stay < 2^63 in both engines' 64-bit arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus for universal hashing — small enough that a*x+b stays in int64.
MERSENNE_P = 1_000_000_007
#: Multiplier used to derive per-permutation coefficients (Knuth's 2654435761).
KNUTH = 2_654_435_761


def md5_hash64(c: Column | str) -> Column:
    """60-bit non-negative integer hash of a string column (portable)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_hash64_sql(expr: str) -> str:
    """DuckDB text equivalent of :func:`md5_hash64`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_perm(hash_col: Column, i: Column) -> Column:
    """h_i(x) = (a_i * (x mod p) + b_i) mod p, coefficients derived from i.

    a_i = (i+1)*KNUTH mod p (never 0 for i < p/KNUTH range used),
    b_i = (i+1)*40503 mod p.
    """
    p = F.lit(MERSENNE_P)
    a = ((i + 1) * F.lit(KNUTH)) % p
    b = ((i + 1) * F.lit(40503)) % p
    return (a * (hash_col % p) + b) % p


def minhash_perm_sql(hash_expr: str, i_expr: str) -> str:
    """DuckDB text equivalent of :func:`minhash_perm`."""
    p = MERSENNE_P
    return (
        f"((({i_expr}+1)*{KNUTH} % {p}) * (({hash_expr}) % {p})"
        f" + (({i_expr}+1)*40503 % {p})) % {p}"
    )
