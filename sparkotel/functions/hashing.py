"""Cross-engine deterministic hashing primitives.

Spark's xxhash64 and DuckDB's hash() disagree, so every operator that
must be oracle-checked derives integers from **md5 hex strings**, which
both engines (and python) compute identically:

    h60(s)  = int(md5(s)[:15], 16)          — 60-bit token/shingle hash
    h31(s)  = h60(s) mod (2^31 - 1)         — fits multiply-mod in int64

MinHash permutations are classic universal hashing
((a*h + b) mod p, p = 2^31-1) with fixed odd multipliers — the same
construction as Spark MLlib's MinHashLSH, re-derived here so the DuckDB
oracle can replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2147483647  # 2^31 - 1

# fixed permutation parameters (seeded, never random at runtime)
MINHASH_K = 8


def perm_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    return [
        (((2 * i + 1) * 48271) % MERSENNE31, ((i + 1) * 16807) % MERSENNE31)
        for i in range(k)
    ]


# -- Spark side --------------------------------------------------------------

def h60(c: Column) -> Column:
    """60-bit integer from md5 hex prefix (JVM-native, no UDF)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def h31(c: Column) -> Column:
    return h60(c) % F.lit(MERSENNE31)


# -- DuckDB side (SQL fragments) ---------------------------------------------

def duck_h60(e: str) -> str:
    return f"(('0x' || substr(md5({e}), 1, 15))::BIGINT)"


def duck_h31(e: str) -> str:
    return f"({duck_h60(e)} % {MERSENNE31})"


def duck_perm(he: str, a: int, b: int) -> str:
    return f"(({he} * {a} + {b}) % {MERSENNE31})"
