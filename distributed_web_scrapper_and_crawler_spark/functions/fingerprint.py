"""URL fingerprinting.

The reference compares raw/normalized URL strings against unique Mongo
indexes (server.py:440-449). At 10^10-URL scale string equi-joins are
needlessly wide; the engine fingerprints with the built-in ``xxhash64``
(JVM-side, codegen'd) and joins on ``(url_hash, url)`` — the 64-bit
birthday collision mass at 10^10 keys (~0.3%) makes hash-only joins
unsafe for ground truth, so the string rides along for exactness while
the hash drives partitioning and join keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def url_hash_col(url_col) -> Column:
    return F.xxhash64(url_col)


def with_url_hash(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("url_hash", F.xxhash64(F.col(url_col)))
