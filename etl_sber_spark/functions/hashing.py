"""Portable 60-bit hash, identical in Spark and DuckDB.

Spark's native ``xxhash64``/``hash`` have no DuckDB equivalent, so
differential tests could not pin operators built on them. Instead:

    hash64(s, seed) = int(md5(s || ':' || seed)[:15], 16)

15 hex digits = 60 bits, always non-negative, fits bigint in both engines.
md5 is available as a built-in in both; this stays JVM-side (codegen) in
Spark. Used by minhash/simhash dedup and document fingerprinting.

Production note: md5 is the PORTABILITY choice, not the fast one — on a
deployment that does not need cross-engine differential verification,
swapping the body for ``F.xxhash64(c, F.lit(seed)) & ((1 << 60) - 1)``
keeps every caller's semantics (uniform 60-bit key, deterministic,
seedable) at several times the hash throughput; the token/shingle
hash is the measured hot spot of the dedup stack (SCALE.md). The
md5 path remains the tested contract because the DuckDB oracles replay
it literally. The swap changes every hash VALUE, so it is only safe on
a fresh deployment: persisted hash-derived state (the minhash
signature index, hash-stable sample/split membership, export shard
assignment) must be rebuilt, or prior decisions
silently stop matching.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(col: Column | str, seed: int = 0) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(c.cast("string"), F.lit(f":{seed}"))
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def hash64_expr_sql(expr: str, seed: int = 0) -> str:
    """The DuckDB-SQL rendering of :func:`hash64` for oracle queries."""
    return f"CAST(('0x' || substr(md5({expr} || ':{seed}'), 1, 15)) AS BIGINT)"
