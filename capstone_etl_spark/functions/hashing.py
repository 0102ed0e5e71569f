"""Portable deterministic hashing (shared by dedup/similarity operators
and their DuckDB oracles).

Engine-native hashes (Spark xxhash64, DuckDB hash) differ across
engines, so every hash that must agree with the oracle is derived from
md5: the first 15 hex digits → a 60-bit non-negative int64. Both
engines compute identical values (verified bit-for-bit).

The minhash family is the classic universal-hash construction
h_i(x) = (a_i·x + b_i) mod p with p = 2^31-1 and a,b drawn from a
fixed-seed PRNG — all arithmetic stays < 2^62, exact in int64 on both
engines.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1


def md5_hash60(col: Column | str) -> Column:
    """60-bit deterministic hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_sql(expr: str) -> str:
    """Same hash, DuckDB SQL fragment."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k (a, b) pairs, deterministic; a odd-ish nonzero, b arbitrary."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(k)]


def minhash_expr_sql(x_expr: str, a: int, b: int) -> str:
    return f"((({x_expr}) % {MERSENNE_P}) * {a} + {b}) % {MERSENNE_P}"
