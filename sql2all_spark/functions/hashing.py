"""Cross-engine deterministic hashing.

The whole oracle-verification strategy rests on hash functions that are
bit-identical in Spark (JVM) and DuckDB: md5 is the only hash both engines
expose with identical semantics, so every derived hash starts there.

``base_hash``: first 15 hex digits of md5 → 60-bit non-negative int64.
15 digits (not 16) keeps the value positive and leaves headroom for
modular arithmetic without overflow in either engine.

Used by: MinHash signatures, SimHash bit votes, n-gram set hashing,
deterministic sampling buckets, LSH band keys.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def base_hash(col: Column) -> Column:
    """60-bit md5-derived hash, bit-identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def base_hash_sql(expr: str) -> str:
    """DuckDB twin of :func:`base_hash`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def hash_bucket(col: Column, buckets: int) -> Column:
    """Stable bucket in [0, buckets) from the string form of ``col``."""
    return base_hash(col.cast("string")) % buckets


def hash_bucket_sql(expr: str, buckets: int) -> str:
    """DuckDB twin of :func:`hash_bucket`."""
    return f"{base_hash_sql(f'CAST({expr} AS VARCHAR)')} % {buckets}"


# Percent-resolution bucket shared by sampling.py and pipeline.py.
SAMPLE_BUCKETS = 100  # hash-mod space: 1% resolution


def pct_bucket(col: Column) -> Column:
    """Deterministic [0,100) bucket of a key column."""
    return hash_bucket(col, SAMPLE_BUCKETS)


def pct_bucket_sql(expr: str) -> str:
    """DuckDB twin of :func:`pct_bucket`."""
    return hash_bucket_sql(expr, SAMPLE_BUCKETS)
