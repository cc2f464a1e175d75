"""Continuous IVF+PQ index ingest — the streaming form of
``operators/similarity.py::ivfpq_append``.

Per micro-batch (``foreachBatch``): encode the batch against the FROZEN
coarse centroids + residual codebooks (``ivfpq_encode_frozen``, O(batch)
pure projections) and land the code rows under
``{index}/codes/ingest_batch=N/centroid_id=C`` — the batch-id-dir
overwrite every store in ``streaming/`` uses, so a checkpoint replay of
batch N overwrites its own output instead of duplicating it (the plain
batch ``ivfpq_append`` would duplicate under at-least-once delivery).

Query side: ``ivfpq_topk_partitioned`` filters on ``centroid_id``, which
Spark prunes across the ``ingest_batch`` level (hive partition discovery
prunes on ANY partition column) — probes still never open non-probed
lists' files. ``sources.readers.compact_streaming_index`` with
``sub_partition_col="centroid_id"`` folds old batch partitions while
preserving the inner list layout; reads go through
``fold_consistent_read`` so probes stay exact mid-compaction.

At 100 TB: per-batch cost is one scan of the new vectors; index growth
is m small ints per vector; the quantizer is frozen — retrain + rebuild
(write_ivfpq_index) only when drift warrants it, the standard serving
posture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.similarity import (
    ivfpq_encode_frozen,
)
from commercepulse_data_pipeline_spark.sources.commit import BATCH_COL
from commercepulse_data_pipeline_spark.streaming import batches


def ivfpq_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode one micro-batch against the frozen index and land it under
    the batch's own partition (replay-idempotent overwrite)."""
    batches.write(
        ivfpq_encode_frozen(
            batch_df.sparkSession, index_path, batch_df, id_col=id_col, vec_col=vec_col
        ),
        f"{index_path}/codes_stream",
        batch_id,
        "centroid_id",
    )


def ivfpq_codes_from_store(
    spark: SparkSession, index_path: str
) -> DataFrame:
    """All code rows: the base build (``codes``) plus the streaming
    partitions (``codes_stream``), fold-aware on the streaming side.
    Feed to a centroid_id-filtered ADC ranking exactly like the base
    codes table — partition pruning applies to both levels."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    from commercepulse_data_pipeline_spark.sources.readers import (
        is_missing_store_error,
    )

    base = spark.read.parquet(f"{index_path}/codes")
    try:
        streamed = fold_consistent_read(
            spark, f"{index_path}/codes_stream"
        ).drop(BATCH_COL)
    except Exception as exc:  # noqa: BLE001 — filtered just below
        if not is_missing_store_error(exc, f"{index_path}/codes_stream"):
            # a transient error is not "no streaming partitions": serving
            # base-only would silently drop every streamed vector from
            # probe results (ADVICE r9)
            raise
        return base  # PATH_NOT_FOUND: nothing streamed yet
    return base.unionByName(streamed)
