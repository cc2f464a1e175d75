"""The event stream's file source (reference §2.10 — the reference
SIMULATES a stream as daily JSONL batch files and states "No real-time
streaming" as a limitation, reference README.md:207). The gold fold
(``streaming/gold_upsert.py``) consumes this stream: its silver dedup
absorbs duplicated events, and a late event re-folds the date it falls
on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.sources.readers import ENVELOPE_SCHEMA


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 10) -> DataFrame:
    """File-source stream over the daily JSONL landing layout
    (``.../YYYY-MM-DD/events.jsonl``), one micro-batch per trigger."""
    return (
        spark.readStream.schema(ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
        .where(F.col("event_id").isNotNull())
        .withColumn("event_ts", F.to_timestamp("event_time"))
    )
