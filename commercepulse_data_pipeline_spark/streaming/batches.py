"""The micro-batch protocol every ``foreachBatch`` store in the package
follows, and the only module that drives one.

A store is a root directory whose micro-batch N lands in
``<root>/ingest_batch=N`` (``sources.commit.BATCH_COL``); a fold
consolidates old batches into ``ingest_batch=-1``
(``sources.commit.CONSOLIDATED_BATCH``). Replay safety comes from two
rules, both kept here:

- :func:`write` overwrites the batch's own partition, so a checkpoint
  replay of batch N (a crash between the sink's commit and the
  checkpoint's advance) replaces N's first attempt instead of
  duplicating it;
- :func:`prior` reads the store fold-consistently WITHOUT batch N's own
  partition, so a replayed batch never sees its first attempt as earlier
  state (it would, e.g., drop both members of every within-batch
  near-dup pair and overwrite the doc the first attempt kept).

A sink is a plain function ``X_batch(batch_df, batch_id, store, ...)``;
run it continuously with
``start(drops(spark, path, schema), checkpoint, lambda df, i: X_batch(df, i, store))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.sources import readers
from commercepulse_data_pipeline_spark.sources.commit import BATCH_COL


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


def prior(spark: SparkSession, root: str, batch_id: int) -> DataFrame | None:
    """Everything the store at ``root`` held before batch ``batch_id``:
    a fold-consistent read minus the batch's own partition (the
    consolidated partition and every other batch stay). None only when
    the store does not exist yet; any other read error propagates, since
    treating a transient failure as "first batch" would skip the
    cross-batch probe for good."""
    try:
        store = readers.fold_consistent_read(spark, root)
    except Exception as exc:  # noqa: BLE001 — filtered just below
        if not readers.is_missing_store_error(exc, root):
            raise
        return None
    return store.where(F.col(BATCH_COL) != F.lit(batch_id))
