"""Continuously maintained Misra–Gries frequent-items rollup — the
streaming form of the MG summary in ``operators/sketches.py``, the
frequent-items twin of ``streaming/sketches.py``.

Per micro-batch (``foreachBatch``): build THIS batch's bounded summary
(top ``capacity`` items with the (capacity+1)-th count subtracted) and
land it under the batch's own partition (``ingest_batch=N``, overwrite —
replay of batch N overwrites N's own output instead of duplicating it).
MG summaries merge by ADDITION (Agarwal et al., "Mergeable Summaries",
PODS 2012), so readers just sum ests across every partial and sum the
per-partial offsets into the error bound — no cross-batch state, no
read-modify-write.

Store layout: ONE table per store, partitioned by ``ingest_batch``. Each
partition holds the batch's item rows (``is_meta = false``, ``item``/
``est`` set, meta columns NULL) plus exactly one META row (``is_meta =
true``, carrying that summary's ``c_off`` and exact ``n_items``). The
explicit ``is_meta`` discriminator — not item nullity — means a genuine
NULL item value in the stream is counted like any other item, matching
the batch MG path in ``operators/sketches.py``, which groups NULL keys
into one countable group. A single table keeps the fold protocol
of ``compact_mg_rollup`` atomic — items and their offset commit or roll
back TOGETHER, which two side-by-side directories cannot guarantee
across a crash (an offset without its ests, or vice versa, transiently
breaks one side of the MG envelope).

Compaction re-merges folded partials into the consolidated
``ingest_batch=-1`` partition WITH re-truncation back to ``capacity``
items: the (capacity+1)-th merged est is subtracted from survivors and
ADDED to the consolidated offset — the mergeable-summaries step that
keeps the store bounded at ~capacity rows per surviving partition while
preserving est <= true <= est + total_offset.

At 100 TB: each batch writes one bounded summary of the batch only
(map-side-combined count + WindowGroupLimit top-k); query cost is
partials × capacity rows — kilobytes — and compaction keeps partials at
~keep_latest+1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df

from commercepulse_data_pipeline_spark.operators.sketches import (
    build_mg_summary,
    merge_mg_summaries,
)
from commercepulse_data_pipeline_spark.streaming import batches


def _unified(items: DataFrame, shards: DataFrame, item_col: str) -> DataFrame:
    """Item rows + one meta row, discriminated by an explicit ``is_meta``
    flag (NOT item nullity — NULL is a countable item value)."""
    item_t = dict(items.dtypes)[item_col]
    item_rows = items.select(
        F.lit(False).alias("is_meta"),
        F.col(item_col).alias("item"),
        F.col("est"),
        F.lit(None).cast("long").alias("c_off"),
        F.lit(None).cast("long").alias("n_items"),
    )
    meta_rows = shards.select(
        F.lit(True).alias("is_meta"),
        F.lit(None).cast(item_t).alias("item"),
        F.lit(None).cast("long").alias("est"),
        F.col("c_off"),
        F.col("n_items"),
    )
    return item_rows.unionByName(meta_rows)


def mg_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    item_col: str,
    capacity: int = 64,
) -> None:
    """Fold one micro-batch into the rollup store: summarize THIS batch's
    rows only, land under the batch's own partition (replay-idempotent
    overwrite)."""
    tagged = batch_df.withColumn("__shard", F.lit(int(batch_id)))
    items, shards = build_mg_summary(
        tagged, shard_col="__shard", item_col=item_col, capacity=capacity
    )
    batches.write(
        _unified(items.drop("__shard"), shards.drop("__shard"), item_col).coalesce(1),
        store_dir,
        batch_id,
    )


def heavy_hitters_from_store(
    spark: SparkSession, store_dir: str, *, item_col: str = "item"
) -> DataFrame:
    """Merged heavy-hitter estimates over every partial in the store
    (consolidated partition included): est per item + ``total_offset`` /
    ``n_total`` bound columns, same contract as
    :func:`operators.sketches.merge_mg_summaries`. Touches only the
    kilobyte summary store. Fold-aware read: MG ests/offsets are NOT
    duplicate-idempotent, so the fold windows need the consistent view
    (:func:`sources.readers.fold_consistent_read`)."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    t = fold_consistent_read(spark, store_dir)
    items = t.where(~F.col("is_meta")).select(F.col("item").alias(item_col), "est")
    shards = t.where(F.col("is_meta")).select("c_off", "n_items")
    return merge_mg_summaries(items, shards, item_col=item_col)


def compact_mg_rollup(
    spark: SparkSession,
    store_dir: str,
    *,
    capacity: int = 64,
    keep_latest: int = 2,
) -> dict:
    """Re-merge all but the ``keep_latest`` newest batch partitions (plus
    any previous consolidated partition) into ``ingest_batch=-1``,
    re-truncated to ``capacity`` items: survivors keep
    ``est - new_off`` where ``new_off`` is the (capacity+1)-th merged est
    (0 when fewer items survive), and the consolidated meta row carries
    ``c_off = Σ folded c_off + new_off`` — so the merged-store envelope
    est <= true <= est + total_offset is preserved across any number of
    re-folds while the store stays bounded.

    Same marker-file commit protocol as the index/sketch compactors
    (single root — the unified layout makes the whole fold one atomic
    swap); ``keep_latest >= 2`` keeps a replayed batch's own partition
    safe, same argument as the other streaming stores."""
    from commercepulse_data_pipeline_spark.sources.commit import fold_partitions

    def write(t, target, _dirs):
        merged = (
            t.where(~F.col("is_meta"))
            .groupBy("item")
            .agg(F.sum("est").alias("est"))
        )
        w = Window.orderBy(F.desc("est"), F.col("item"))
        ranked = merged.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= capacity + 1
        )
        # bounded collect: <= capacity+1 rows by construction
        top = ranked.collect()
        new_off = next((r["est"] for r in top if r["rn"] == capacity + 1), 0)
        folded_meta = t.where(F.col("is_meta")).agg(
            F.sum("c_off").alias("c_off"), F.sum("n_items").alias("n_items")
        ).first()
        item_t = dict(merged.dtypes)["item"]
        kept = [
            (r["item"], int(r["est"] - new_off))
            for r in top
            if r["rn"] <= capacity and r["est"] > new_off
        ]
        rows = [(False, i, e, None, None) for i, e in kept] + [
            (True, None, None, int(folded_meta["c_off"] or 0) + int(new_off),
             int(folded_meta["n_items"] or 0))
        ]
        one_slice_df(
            spark, rows, f"is_meta boolean, item {item_t}, est long, c_off long, n_items long"
        ).write.mode("overwrite").parquet(target)

    return fold_partitions(spark, store_dir, write, keep_latest=keep_latest)
