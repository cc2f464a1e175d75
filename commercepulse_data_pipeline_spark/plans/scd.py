"""CDC upsert + SCD2 history — MERGE INTO emulated on plain parquet.

The reference's Mongo upsert (K1) is a row-level MERGE; on a table format
without MERGE support the batch emulation is:

    merge_upsert:  target ∖ (keys in updates)  ∪  updates-deduped
    (anti-join + union + last-writer-wins — two shuffles on the key)

``scd2_history`` turns an event log into type-2 dimension rows
(valid_from / valid_to / is_current) with one window pass — the standard
warehouse shape for "what did this row look like on date X".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.dedup import last_writer_wins


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """New target state: updates win over target rows with the same key;
    within updates, last writer (by ``order_col``) wins.

    Both inputs must share a schema. Scale: one anti-join + one window,
    both shuffling on the key — bucket the target by the key to make the
    anti-join co-located (``DataFrameWriter.bucketBy`` on ``key_cols``).
    """
    deduped = last_writer_wins(updates, key_cols, order_col)
    untouched = target.join(deduped.select(*key_cols), on=key_cols, how="left_anti")
    return untouched.unionByName(deduped)


def scd2_history(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Type-2 history from an event log: one row per (key, change) with
    ``valid_from`` / ``valid_to`` / ``is_current``. ``valid_to`` is the
    next change's timestamp (NULL = still current). Single window pass,
    one shuffle on the key."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).asc())
    return (
        events.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def as_of(history: DataFrame, ts: str) -> DataFrame:
    """Point-in-time view of an SCD2 table: rows valid at ``ts``."""
    t = F.lit(ts).cast("timestamp")
    return history.where(
        (F.col("valid_from") <= t) & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
