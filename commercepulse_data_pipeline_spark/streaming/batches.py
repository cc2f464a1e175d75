"""The micro-batch protocol every ``foreachBatch`` store in the package
follows, and the only module that drives one.

A store is a root directory whose micro-batch N lands in
``<root>/ingest_batch=N`` (``sources.commit.BATCH_COL``); a fold
(``sources.readers.compact_streaming_index``) consolidates old batches
into ``ingest_batch=-1`` (``sources.commit.CONSOLIDATED_BATCH``) and
commits through ``sources.commit.swap``, whose intent record
``<root>/_SWAP.json`` marks a fold in flight. Replay safety comes from
two rules, both kept here:

- :func:`write` overwrites the batch's own partition, so a checkpoint
  replay of batch N (a crash between the sink's commit and the
  checkpoint's advance) replaces N's first attempt instead of
  duplicating it;
- :func:`prior` reads the store fold-consistently
  (``readers.fold_consistent_read``: the post-fold store while an
  intent record is present) WITHOUT batch N's own partition, so a
  replayed batch never sees its first attempt as earlier state (it
  would, e.g., drop both members of every within-batch near-dup pair
  and overwrite the doc the first attempt kept).

Whether a store exists yet is the listing's answer
(``readers.store_partitions``), asked before anything is read; no read
error ever counts as "no store".

A sink is a plain function ``X_batch(batch_df, batch_id, store, ...)``;
run it continuously with
``start(drops(spark, path, schema), checkpoint, lambda df, i: X_batch(df, i, store))``.
A batch build of the same store is one more batch of it:
:func:`write_consolidated` lands it in the consolidated partition, so a
store built in batch and extended by a stream (or the other way round)
keeps one layout and one reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.sources import readers
from commercepulse_data_pipeline_spark.sources.commit import BATCH_COL, CONSOLIDATED_BATCH


def drops(
    spark: SparkSession, path: str, schema: str, *, max_files_per_trigger: int = 10
) -> DataFrame:
    """The stream of parquet files dropped into directory ``path``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start(stream: DataFrame, checkpoint: str, fn, *, trigger_once: bool = True):
    """Run ``fn(batch_df, batch_id)`` on every micro-batch of ``stream``.
    ``trigger_once`` drains what is available and stops (``availableNow``);
    otherwise the query keeps following new input. Returns the started
    query."""
    writer = stream.writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write(df: DataFrame, root: str, batch_id: int, *partition_cols: str) -> None:
    """Land ``df`` as batch ``batch_id``'s partition of the store at
    ``root``, replacing whatever an earlier attempt of the batch wrote."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(f"{root}/{BATCH_COL}={batch_id}")


def write_consolidated(df: DataFrame, root: str, mode: str, *partition_cols: str) -> None:
    """Land ``df`` in the consolidated partition of the store at ``root``:
    ``mode="append"`` adds it to that partition, ``mode="overwrite"``
    replaces the whole store with it (static overwrite whatever the
    session's ``partitionOverwriteMode``, so no stream partition
    survives a fresh build)."""
    (
        df.withColumn(BATCH_COL, F.lit(CONSOLIDATED_BATCH))
        .write.mode(mode)
        .option("partitionOverwriteMode", "static")
        .partitionBy(BATCH_COL, *partition_cols)
        .parquet(root)
    )


def prior(spark: SparkSession, root: str, batch_id: int) -> DataFrame | None:
    """Everything the store at ``root`` held before batch ``batch_id``:
    a fold-consistent read minus the batch's own partition (the
    consolidated partition and every other batch stay). None only when
    the store's listing (``readers.store_partitions``) is empty, decided
    before anything is read; every read error propagates, since treating
    a transient failure as "first batch" would skip the cross-batch probe
    for good."""
    if not readers.store_partitions(spark, root):
        return None
    return readers.fold_consistent_read(spark, root).where(F.col(BATCH_COL) != F.lit(batch_id))
