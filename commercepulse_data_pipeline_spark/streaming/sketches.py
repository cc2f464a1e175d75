"""Continuously maintained HLL sketch rollup — the streaming form of
``operators/sketches.py``.

Per micro-batch (``foreachBatch``): sketch the batch's rows per
(day, group) and APPEND to the rollup store under the batch's own
partition (``ingest_batch=N``, overwrite — the same idempotent-replay
pattern as the corpus/embedding stores: a checkpoint replay of batch N
overwrites N's own output instead of duplicating it). Readers
(``distinct_over_range``) union-merge across every partial row for a day,
so duplicate (day, group) rows from different batches are CORRECT by
construction — HLL union is associative, commutative and idempotent for
the same underlying keys. That associativity is the whole trick: no
cross-batch state, no read-modify-write, each batch writes only its own
aggregate.

The store grows one partial row per (day, group) per batch that touched
the day; :func:`compact_sketch_rollup` re-merges to one row per
(day, group) (run it on a cron beside the stream — readers keep working
mid-compaction because merging partials is what they do anyway).

At 100 TB: each batch's write is one map-side-combined aggregate of the
batch only; the range-query cost stays proportional to days × groups ×
partials, which compaction keeps at ~1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.sketches import build_sketch_rollup


def sketch_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    day_col: str = "day",
    group_cols: list[str] | None = None,
    key_col: str = "user_id",
    lg_k: int = 12,
) -> None:
    """Fold one micro-batch into the rollup store: sketch THIS batch's
    rows only, land under the batch's own partition (replay-idempotent
    overwrite)."""
    build_sketch_rollup(
        batch_df, day_col=day_col, group_cols=group_cols, key_col=key_col, lg_k=lg_k
    ).write.mode("overwrite").parquet(f"{store_dir}/ingest_batch={batch_id}")


def stream_sketch_rollup(
    spark: SparkSession,
    events_path: str,
    store_dir: str,
    checkpoint: str,
    *,
    schema: str = "day string, event_type string, user_id long",
    day_col: str = "day",
    group_cols: list[str] | None = None,
    key_col: str = "user_id",
    lg_k: int = 12,
    max_files_per_trigger: int = 10,
    trigger_once: bool = True,
):
    """Tail a directory of event parquet drops and maintain the sketch
    rollup continuously. Returns the started query."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_path)
    )

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        sketch_rollup_batch(
            batch_df, batch_id, store_dir,
            day_col=day_col, group_cols=group_cols, key_col=key_col, lg_k=lg_k,
        )

    writer = stream.writeStream.foreachBatch(_batch_fn).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_sketch_rollup(
    spark: SparkSession,
    store_dir: str,
    *,
    day_col: str = "day",
    group_cols: list[str] | None = None,
    keep_latest: int = 2,
) -> dict:
    """Re-merge the per-batch partial rows to one row per (day, group),
    via :func:`sources.commit.fold_partitions`'s fold protocol —
    but with an aggregation step: the consolidated partition holds
    ``hll_union_agg`` of the folded partials (readers are agnostic: they
    union-merge whatever rows exist). ``keep_latest`` batch partitions
    stay untouched for replay safety (same argument as the index stores).
    """
    from commercepulse_data_pipeline_spark.sources.commit import fold_partitions

    groups = [day_col, *(group_cols or [])]

    def write(folded, target, _dirs):
        (
            folded.groupBy(*groups)
            .agg(
                F.hll_union_agg("key_sketch").alias("key_sketch"),
                F.sum("n_rows").alias("n_rows"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(target)
        )

    return fold_partitions(spark, store_dir, write, keep_latest=keep_latest)
