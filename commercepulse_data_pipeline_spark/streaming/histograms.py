"""Continuously maintained log₂-histogram quantile rollup — the streaming
form of the HDR-style histogram in ``operators/sketches.py``, completing
the streaming mergeable-summary triad next to ``streaming/sketches.py``
(HLL distincts) and ``streaming/frequent_items.py`` (Misra–Gries).

Per micro-batch (``foreachBatch``): bin THIS batch's rows per
(shard, group, bucket) and land the bucket counts under the batch's own
partition (``ingest_batch=N``, overwrite — a checkpoint replay of batch N
overwrites N's own output instead of duplicating it; bucket COUNTS are
not union-idempotent like HLL, so the per-batch-partition overwrite is
what carries replay safety here). Readers sum bucket counts across every
partial — addition is associative and commutative, so no cross-batch
state and no read-modify-write.

The store grows one partial bucket set per batch;
:func:`compact_hist_rollup` re-merges all but the ``keep_latest`` newest
batch partitions into ``ingest_batch=-1`` by plain count addition (no
re-truncation needed — the bucket space is bounded by construction at
~64·2^sub_bits rows per (shard, group), unlike the MG store). Same
marker-file fold protocol and ``keep_latest >= 2`` replay argument as the
other streaming stores.

At 100 TB: each batch's write is one map-side-combined aggregate of the
batch only; any range quantile reads kilobytes of bucket rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.sketches import (
    log2_hist_sketch,
    merge_hist_quantiles,
)
from commercepulse_data_pipeline_spark.sources.commit import BATCH_COL
from commercepulse_data_pipeline_spark.streaming import batches


def hist_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    value_col: str,
    shard_col: str,
    group_cols: list[str] | None = None,
    sub_bits: int = 6,
) -> None:
    """Fold one micro-batch into the rollup store: bin THIS batch's rows
    only, land under the batch's own partition (replay-idempotent
    overwrite)."""
    batches.write(
        log2_hist_sketch(
            batch_df,
            value_col,
            shard_col=shard_col,
            group_cols=group_cols,
            sub_bits=sub_bits,
        ).coalesce(1),
        store_dir,
        batch_id,
    )


def quantiles_from_store(
    spark: SparkSession,
    store_dir: str,
    probs: list[tuple[str, int, int]],
    *,
    shard_col: str,
    group_cols: list[str] | None = None,
    sub_bits: int = 6,
    shard_filter=None,
) -> DataFrame:
    """Quantile estimates over every partial in the store (consolidated
    partition included): sum bucket counts across partials, then the
    exact-rational rank selection from
    :func:`operators.sketches.merge_hist_quantiles`. ``shard_filter`` is
    an optional Column predicate on ``shard_col`` (pushed to the bucket
    scan). Touches only the kilobyte bucket store."""
    # fold-aware read: counts are NOT duplicate-idempotent, so the
    # post-commit fold window (new consolidated + not-yet-deleted folded
    # partials both visible) would double-count under a naive read
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    hist = fold_consistent_read(spark, store_dir).drop(BATCH_COL)
    if shard_filter is not None:
        hist = hist.where(shard_filter)
    return merge_hist_quantiles(
        hist.drop(shard_col), probs, group_cols=group_cols, sub_bits=sub_bits
    )


def compact_hist_rollup(
    spark: SparkSession,
    store_dir: str,
    *,
    shard_col: str,
    group_cols: list[str] | None = None,
    keep_latest: int = 2,
) -> dict:
    """Re-merge all but the ``keep_latest`` newest batch partitions (plus
    any previous consolidated partition) into ``ingest_batch=-1`` by
    summing bucket counts — addition is exact, so the compacted store
    answers every query identically to the uncompacted one (asserted in
    tests, unlike the estimate-preserving-but-lossy MG re-truncation).
    Same marker-file commit protocol as the other streaming stores."""
    from commercepulse_data_pipeline_spark.sources.commit import fold_partitions

    keys = [shard_col, *(group_cols or []), "bin_lo"]

    def write(folded, target, _dirs):
        folded.groupBy(*keys).agg(F.sum("cnt").alias("cnt")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(target)

    return fold_partitions(spark, store_dir, write, keep_latest=keep_latest)
