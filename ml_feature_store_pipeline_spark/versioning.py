"""Content-addressed feature versioning (SURVEY §2.H H1).

The reference hashes row bytes in frame order
(`md5(hash_pandas_object(features))`, `ML Feature Store Pipeline.py:307-310`)
— row-order-sensitive, which is meaningless under Spark's nondeterministic
partition order. DECLARED DEVIATION (SURVEY §5.4): same purpose
(content-addressed version id), order-insensitive construction:

    per-row h = xxhash64(all columns)   (JVM-side, codegen'd)
    digest    = md5(f"{sum(h) mod 2^64}:{count}")

Commutative sum ⇒ identical digest across any repartition/shuffle order —
a strictly stronger determinism guarantee than the reference's.
"""

from __future__ import annotations

import hashlib
from collections.abc import Mapping
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_aggregates(df: DataFrame) -> list[Column]:
    """The two aggregates the digest is made of, ``__hash_sum`` and
    ``__hash_n``; plain sums, so they also run as observed metrics of a
    write (``DataFrame.observe``)."""
    row_hash = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    # sum as decimal(38,0) so 64-bit sums can't overflow long; reduce mod 2^64
    return [
        F.sum(row_hash.cast("decimal(38,0)")).alias("__hash_sum"),
        F.count(F.lit(1)).alias("__hash_n"),
    ]


def version_from(row: Mapping[str, Any]) -> str:
    """The version id from a result row of :func:`content_aggregates`."""
    s = int(row["__hash_sum"] or 0) % (1 << 64)
    return hashlib.md5(f"{s}:{row['__hash_n']}".encode()).hexdigest()


def content_version(df: DataFrame) -> str:
    """Deterministic, order-insensitive content hash of a DataFrame."""
    return version_from(df.agg(*content_aggregates(df)).collect()[0])
