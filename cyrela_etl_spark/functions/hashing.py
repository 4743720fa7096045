"""Deterministic, engine-portable hashing.

Spark's native ``xxhash64``/``hash`` are fast but their bit patterns are
Spark-specific, so results could never be checked against an external
oracle. For operators whose OUTPUT is a hash (fingerprints, MinHash
signatures, LSH bucket keys) we derive integers from ``md5`` — bit-identical
in Spark, DuckDB, and any other engine — via hex-prefix → int64.
``md5`` is computed JVM-side (codegen), so this stays off the Python path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A Mersenne prime < 2^31; (a*x + b) % P universal-hash family over it.
MERSENNE_PRIME = 2_147_483_647


def hex_prefix_long(col: Column, start: int = 1, length: int = 15) -> Column:
    """First ``length`` hex chars of md5(col) as a non-negative int64.

    15 hex digits = 60 bits < 63, so the conv() result always fits long.
    Portable: DuckDB ``CAST(CONCAT('0x', SUBSTR(MD5(x), start, length)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), start, length), 16, 10).cast("long")


def stable_hash64(col: Column) -> Column:
    """Engine-portable 60-bit content hash of a string column."""
    return hex_prefix_long(col)


def fast_hash60(col: Column) -> Column:
    """Spark-native xxhash64 masked to the same non-negative 60-bit range
    as ``hex_prefix_long`` — the PRODUCTION hash for signature folds (LSH
    dedup over a 100 TB corpus hashes ~10¹¹ shingles; xxhash64 is several
    times cheaper than md5 and needs no hex→int conversion). NOT
    oracle-portable: its bit pattern is Spark-specific, so oracle-checked
    queries keep md5 and operators expose it behind ``hash_fn='xxhash64'``.
    """
    return F.shiftrightunsigned(F.xxhash64(col), 4).cast("long")
