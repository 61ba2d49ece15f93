"""Cross-engine deterministic hashing.

The MinHash/SimHash/rolling-hash operators need a 64-bit-class hash that
BOTH Spark and an ANSI-SQL oracle (DuckDB) can compute bit-identically, so
the driver can hash-compare their outputs. xxhash64 is Spark-specific;
instead we take the first 15 hex chars (60 bits) of md5 — available
everywhere — and convert to a BIGINT:

- Spark:  ``conv(substring(md5(x), 1, 15), 16, 10)`` cast to long
- DuckDB: ``CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)``

60 bits keeps the value positive in a signed 64-bit integer in both
engines (no sign-extension divergence) while leaving plenty of entropy for
dedup fingerprints.

Permutation family for MinHash: classic universal hashing
``h_p(x) = (a_p * x + b_p) mod M31`` over the md5-60 base value reduced mod
``M31 = 2^31 - 1`` (Mersenne prime). All operands stay < 2^62, so the
arithmetic never wraps — safe under Spark ANSI mode and identical in any
SQL engine. Constants a_p/b_p come from a fixed-seed PRNG so plans are
stable across sessions and match the generated oracle SQL.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, functions as F

M31 = 2_147_483_647  # Mersenne prime 2^31 - 1
ROLL_A = 1_000_003  # polynomial rolling-hash multiplier (prime)


def md5u60(col) -> Column:
    """First 60 bits of md5 as a non-negative long (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5u60_sql(expr: str) -> str:
    """Same 60-bit md5 value in DuckDB SQL."""
    return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"


def perm_constants(n_perm: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """(a_p, b_p) pairs for the universal-hash permutation family, shared by
    the Spark plan and the generated oracle SQL."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, M31), rng.randrange(0, M31)) for _ in range(n_perm)
    ]


def perm_hash_sql(expr: str, a: int, b: int) -> str:
    return f"(({a} * {expr} + {b}) % {M31})"
