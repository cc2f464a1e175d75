"""Continuously maintained KMV/Theta sketch store — the streaming form of
the set-operation sketch in ``operators/sketches.py``, sibling of
``streaming/sketches.py`` (HLL) and ``streaming/frequent_items.py`` (MG).

Per micro-batch (``foreachBatch``): sketch THIS batch's keys per set and
land the (set, hv) rows under the batch's own partition
(``ingest_batch=N``, overwrite — a checkpoint replay of batch N
overwrites N's own output instead of duplicating it). Readers re-assert
the KMV invariant (:func:`operators.sketches.kmv_truncate` — DISTINCT hv
per set, k smallest kept) across every partial row, and because "the k
smallest of a union" is a subset of "the union of each part's k
smallest", per-batch truncation loses nothing: duplicate partials and
overlapping batches are CORRECT by construction (DISTINCT is idempotent),
the same associativity trick the HLL and Bloom stores lean on. No
cross-batch state, no read-modify-write.

The store grows <= k rows per set per batch that touched the set;
:func:`compact_kmv_rollup` re-truncates to one k-row sketch per set (run
it on a cron beside the stream — readers keep working mid-compaction
because re-truncating partials is what they do anyway).

At 100 TB: each batch's write is one distinct + WindowGroupLimit-pushed
rank over the batch only; set-operation queries touch partials × k
kilobyte-rows, which compaction keeps at ~k per set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.sketches import (
    build_kmv_rollup,
    kmv_truncate,
)
from commercepulse_data_pipeline_spark.streaming import batches


def kmv_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    set_col: str,
    key_col: str,
    k: int = 128,
) -> None:
    """Fold one micro-batch into the sketch store: sketch THIS batch's
    rows only, land under the batch's own partition (replay-idempotent
    overwrite)."""
    batches.write(
        build_kmv_rollup(batch_df, set_col=set_col, key_col=key_col, k=k),
        store_dir,
        batch_id,
    )


def kmv_sketches_from_store(
    spark: SparkSession, store_dir: str, *, set_col: str, k: int = 128
) -> DataFrame:
    """The current sketch per set: re-truncate across every partial row.
    This is what :func:`operators.sketches.kmv_set_overlap` does to a
    batch store; exposed here so callers can run set ops against the
    live streaming store the same way. Fold-aware read
    (:func:`sources.readers.fold_consistent_read`): probing concurrently
    with — or after a crash of — :func:`compact_kmv_rollup` returns the
    exact pre-fold answer at every resting point."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    return kmv_truncate(
        fold_consistent_read(spark, store_dir), set_col=set_col, k=k
    )


def compact_kmv_rollup(
    spark: SparkSession,
    store_dir: str,
    *,
    set_col: str,
    k: int = 128,
    keep_latest: int = 2,
) -> dict:
    """Re-truncate the per-batch partials to one k-row sketch per set via
    the ``sources.commit.fold_partitions`` fold protocol (the
    consolidated partition is ``ingest_batch=-1``; ``keep_latest`` batch
    partitions stay untouched for replay safety). Readers are agnostic —
    they re-truncate whatever rows exist, so compaction is invisible
    mid-flight."""
    from commercepulse_data_pipeline_spark.sources.commit import fold_partitions

    def write(folded, target, _dirs):
        kmv_truncate(folded, set_col=set_col, k=k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(target)

    return fold_partitions(spark, store_dir, write, keep_latest=keep_latest)
