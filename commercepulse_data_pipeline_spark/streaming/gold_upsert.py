"""Continuously maintained gold daily table: ``foreachBatch`` incremental
view maintenance of ``fact_order_daily`` from the raw event stream.

The reference's §3.1 flagship (daily per-vendor revenue) is batch-only
there — its README names "No real-time streaming" as a limitation
(reference README.md:207). This module restates it as streaming, closing
SURVEY §7.1's last §2.10 composition: event stream → silver upserts →
gold upsert, per micro-batch.

Per micro-batch (``foreachBatch`` gives a plain batch DataFrame, so the
whole batch plan layer is reused verbatim — no streaming twins of the
normalizers needed):

1. silver first: dedup (previous silver ∪ the batch's rows, projected by
   the SAME ``plans.silver`` row projections as batch) with the same
   total ordering (LWW by (created_at, event_id) for orders, keep-first
   by (ts, event_id) for payments/refunds), and write it to
   ``<table>.tmp``. min/max over a union is associative, so the
   maintained silver converges to the batch result no matter how events
   were split into micro-batches (an in-batch dedup first would change
   nothing), and a replayed batch is a no-op (idempotent under
   at-least-once delivery).
2. read the tmps back, so each silver table is computed once per fold,
   and compute the AFFECTED order_dates: dates of every order the batch's
   rows touch (by order id, from payments/refunds too), in both the new
   and the OLD silver — an order_updated that MOVES an order across
   dates dirties both its old and new day.
3. recompute ``build_fact_order_daily`` from the read-back silver only
   for orders on affected dates (with silver partitioned by order_date
   this is partition pruning) and union it with the old gold minus those
   dates — the drop handles (date, vendor) groups that vanished entirely
   (all of a vendor's orders moved off the day).

Storage is plain parquet committed through ``sources/commit.py``'s swap
protocol. All four new tables are written to ``<table>.tmp`` against the
OLD state first, so a batch reads a consistent snapshot; recovery
discards the tmps of an attempt that did not commit, so a tmp is read
back only by the batch that wrote it. Then ``_SWAP.json`` is written
atomically in the store; it is the commit point. Only after it does any
live table get renamed aside to ``<table>.old`` and replaced by its tmp.
A crash before the record leaves all four tables old; a crash after it
is rolled forward by the next batch's recovery, so all four become new.
The tables never mix snapshots. A mix would break the fold: a replay
that read the new ``orders`` as its previous state would miss the old
date of an order the batch moved, and gold would keep that date's stale
count for good.

Be explicit about what the swap costs: it REWRITES each silver table in
full every batch — fine for the daily-file cadence this models, wrong
at 100 TB. The cluster shape is a transactional table format
(Delta/Iceberg): silver keyed MERGE, gold ``replaceWhere`` on the
affected dates — the dataframe logic is unchanged, only the four
writes swap for MERGE statements. The driver holds only the
affected-date list (bounded by the batch's touched days), never data.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.plans import silver
from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily
from commercepulse_data_pipeline_spark.sources import commit
from commercepulse_data_pipeline_spark.streaming import batches

_TABLES = ("orders", "payments", "refunds", "gold")
# silver table -> (row projection, dedup)
_SILVER = {
    "orders": (silver.order_rows, silver.dedup_orders),
    "payments": (silver.payment_rows, silver.dedup_payments),
    "refunds": (silver.refund_rows, silver.dedup_refunds),
}


def upsert_gold_batch(
    batch_df: DataFrame,
    store_dir: str,
) -> None:
    """One IVM step: fold a batch of raw envelope events into the silver
    tables and recompute the affected days of gold. Callable directly
    (batch backfill) or from ``foreachBatch`` (streaming)."""
    spark = batch_df.sparkSession
    paths = {t: os.path.join(store_dir, t) for t in _TABLES}
    tables = [(paths[t], paths[t] + ".tmp", paths[t] + ".old") for t in _TABLES]
    intent = os.path.join(store_dir, commit.INTENT)
    # finish or undo a prior batch's interrupted swap before reading: a
    # missing table would otherwise read as "first batch ever" and be
    # rebuilt from this batch alone
    commit.recover_swap(tables, intent=intent)
    prev = {t: spark.read.parquet(paths[t]) if os.path.exists(paths[t]) else None for t in _TABLES}

    batch = batch_df.where(F.col("event_id").isNotNull())
    rows, new = {}, {}
    for t, (project, dedup) in _SILVER.items():
        rows[t] = project(batch)
        both = rows[t] if prev[t] is None else prev[t].unionByName(rows[t])
        dedup(both).write.mode("overwrite").parquet(paths[t] + ".tmp")
        new[t] = spark.read.parquet(paths[t] + ".tmp")

    # order ids this batch touches, directly or via a payment/refund (a
    # NULL id matches nothing in a semi-join)
    ids = reduce(DataFrame.unionByName, (r.select("order_id") for r in rows.values()))
    # their dates in the new silver and in the old one (a moved order
    # dirties both days)
    dirty = reduce(DataFrame.unionByName, (
        o.join(ids, "order_id", "left_semi").select("order_date")
        for o in (new["orders"], prev["orders"]) if o is not None
    ))
    affected_dates = [
        r.order_date
        for r in dirty.where(F.col("order_date").isNotNull()).distinct().collect()
    ]

    # recompute ONLY the affected days from the full maintained silver
    fact = build_fact_order_daily(
        new["orders"].where(F.col("order_date").isin(affected_dates)),
        new["payments"],
        new["refunds"],
    )
    # fact holds one row per (order_date, vendor) of the affected dates
    # only, and those dates leave the old gold here, so a keyed MERGE
    # could never match or drop a row: a union is the upsert
    gold = fact if prev["gold"] is None else (
        prev["gold"].where(~F.col("order_date").isin(affected_dates)).unionByName(fact)
    )
    gold.write.mode("overwrite").parquet(paths["gold"] + ".tmp")
    # all four were written against the old snapshot: commit them as one unit
    commit.swap(tables, intent=intent)


def maintain_gold_daily_stream(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    *,
    trigger_once: bool = True,
):
    """Start the continuous gold maintenance query over a raw event
    stream (``read_event_stream`` output). ``{store_dir}/gold`` converges
    to the batch ``build_fact_order_daily`` over all events seen."""
    # the lambda resolves ``upsert_gold_batch`` at call time, so a
    # replacement installed on this module (perfbench's traced fold span)
    # is the one that runs
    return batches.start(
        stream,
        checkpoint,
        lambda batch_df, _batch_id: upsert_gold_batch(
            batch_df, store_dir
        ),
        trigger_once=trigger_once,
    )
