"""Scalar column-expression library (reference §2.4 F1-F11), all
JVM-side Catalyst expressions — no Python UDFs."""

from commercepulse_data_pipeline_spark.functions.expr import let
from commercepulse_data_pipeline_spark.functions.drift import (
    canonical_status,
    coalesce_keys,
    json_keys,
    numeric_or_zero,
    safe_divide,
)
from commercepulse_data_pipeline_spark.functions.hashing import (
    event_id,
    stable_bucket,
)
from commercepulse_data_pipeline_spark.functions.temporal import (
    calendar_columns,
    days_between,
    parse_timestamp,
)

__all__ = [
    "calendar_columns",
    "canonical_status",
    "coalesce_keys",
    "days_between",
    "event_id",
    "json_keys",
    "let",
    "numeric_or_zero",
    "parse_timestamp",
    "safe_divide",
    "stable_bucket",
]
