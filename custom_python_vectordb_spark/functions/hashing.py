"""Cross-engine deterministic hashing.

MinHash/SimHash/fingerprinting need a 64-bit-ish integer hash that Spark and
the DuckDB oracle compute identically. Native hash functions differ
(murmur3 vs duckdb-hash), so the canonical hash is the top 48 bits of
md5 (both engines ship md5): h(s) = int(hex(md5(s))[0:12], 16) ∈ [0, 2^48).

Seeded families: h_i(s) = h(i || '|' || s).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash48(col: Column) -> Column:
    """48-bit hash (12 hex chars) — fits exactly in a double, so per-bit
    extraction via floor(h / 2^b) % 2 is exact and engine-identical
    (SimHash needs this; 60-bit values lose low bits in double division)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def seeded_hash48(col: Column, seed: int) -> Column:
    return hash48(F.concat(F.lit(f"{seed}|"), col))


def duck_hash48(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 12))::BIGINT)"


def duck_seeded_hash48(expr: str, seed: int) -> str:
    return duck_hash48(f"'{seed}|' || {expr}")
