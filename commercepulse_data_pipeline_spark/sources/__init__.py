"""Sources / sinks (reference §2.1-§2.2): envelope ingestion, bronze
parquet layer, FX rates."""

from commercepulse_data_pipeline_spark.sources.readers import (
    ENVELOPE_FIELDS,
    ENVELOPE_SCHEMA,
    read_bronze,
    read_fx_rates,
    read_historical_json,
    read_jsonl_events,
    skip_count,
    valid_events,
    write_bronze,
)

__all__ = [
    "ENVELOPE_FIELDS",
    "ENVELOPE_SCHEMA",
    "read_bronze",
    "read_fx_rates",
    "read_historical_json",
    "read_jsonl_events",
    "skip_count",
    "valid_events",
    "write_bronze",
]
