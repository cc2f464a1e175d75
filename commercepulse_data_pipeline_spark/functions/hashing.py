"""Deterministic hash identities (reference F9).

The reference mints event ids as SHA-256 of ``"{event_type}:{natural_key}"``
(src/bootstrap_loader.py:22-24). Both helpers are stock Spark
expressions — no UDF, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def event_id(event_type: Column, natural_key: Column) -> Column:
    """SHA-256 of "{event_type}:{natural_key}" (reference
    src/bootstrap_loader.py:22-24)."""
    return F.sha2(F.concat_ws(":", event_type, natural_key), 256)


def stable_bucket(col: Column, n_buckets: int) -> Column:
    """Deterministic bucket id in [0, n_buckets) from any column — used to
    salt skewed keys and to shard self-join candidate generation."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))
