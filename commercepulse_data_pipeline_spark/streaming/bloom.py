"""Continuously maintained Bloom-filter membership rollup — the streaming
form of ``operators/sketches.py``'s bloom store.

Per micro-batch (``foreachBatch``): compute the batch's sparse (shard,
pos) bit rows and land them under the batch's own partition
(``ingest_batch=N``, overwrite — the idempotent-replay pattern shared by
every store in this package: a checkpoint replay of batch N overwrites
N's own output instead of duplicating it). Readers
(``membership_over_range``) DISTINCT over every row in range, and bit-OR
is associative, commutative and IDEMPOTENT — so duplicate (shard, pos)
rows across batch partitions are correct by construction, the same
argument as the HLL store (and a stronger one than the histogram store,
whose counts are not idempotent).

The store grows up to m_bits rows per (shard, batch that touched the
shard); :func:`compact_bloom_rollup` re-folds to at most m_bits rows per
shard total (run it on a cron beside the stream — readers keep working
mid-compaction because de-duplicating partials is what they do anyway).

At 100 TB: each batch's write is one map-side-combined distinct of the
batch only; probe cost stays proportional to shards x fill x partials,
which compaction keeps at ~1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.sketches import build_bloom_rollup
from commercepulse_data_pipeline_spark.streaming import batches


def bloom_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    shard_col: str = "day",
    key_col: str = "user_id",
    m_bits: int = 1 << 16,
    k: int = 4,
) -> None:
    """Fold one micro-batch into the store: THIS batch's bit rows only,
    landed under the batch's own partition (replay-idempotent
    overwrite)."""
    batches.write(
        build_bloom_rollup(
            batch_df, shard_col=shard_col, key_col=key_col, m_bits=m_bits, k=k
        ),
        store_dir,
        batch_id,
    )


def compact_bloom_rollup(
    spark: SparkSession,
    store_dir: str,
    *,
    shard_col: str = "day",
    keep_latest: int = 2,
) -> dict:
    """Re-fold the per-batch partials to one DISTINCT (shard, pos) set in
    the consolidated ``ingest_batch=-1`` partition, via the shared
    marker-file fold protocol (crash-recoverable at every point; see
    ``sources/commit.py::fold_partitions``). Compaction is EXACT
    — bit-OR of bit-ORs — so probe answers are identical before, during,
    and after. ``keep_latest`` batch partitions stay untouched for
    replay safety."""
    from commercepulse_data_pipeline_spark.sources.commit import fold_partitions

    def write(folded, target, _dirs):
        folded.select(shard_col, "pos").distinct().coalesce(1).write.mode(
            "overwrite"
        ).parquet(target)

    return fold_partitions(spark, store_dir, write, keep_latest=keep_latest)
