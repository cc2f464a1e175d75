"""Continuously maintained gold daily table: ``foreachBatch`` incremental
view maintenance of ``fact_order_daily`` from the raw event stream.

The reference's §3.1 flagship (daily per-vendor revenue) is batch-only
there — its README names "No real-time streaming" as a limitation
(reference README.md:207). This module restates it as streaming, closing
SURVEY §7.1's last §2.10 composition: event stream → silver upserts →
gold MERGE, per micro-batch.

Per micro-batch (``foreachBatch`` gives a plain batch DataFrame, so the
whole batch plan layer is reused verbatim — no streaming twins of the
normalizers needed):

1. normalize the batch's events with the SAME silver transforms as batch
   (``plans.silver``), then re-dedup over (previous silver ∪ delta) with
   the same total ordering (LWW by (created_at, event_id) for orders,
   keep-first by (ts, event_id) for payments/refunds). min/max over a
   union is associative, so the maintained silver converges to the batch
   result no matter how events were split into micro-batches — and a
   replayed batch is a no-op (idempotent under at-least-once delivery).
2. compute the AFFECTED order_dates: dates of every order touched by the
   batch (by order id, from payments/refunds too), in both the old and
   new silver state — an order_updated that MOVES an order across dates
   dirties both its old and new day.
3. recompute ``build_fact_order_daily`` only for orders on affected dates
   (with silver partitioned by order_date this is partition pruning), and
   MERGE it into gold with ``plans.scd.merge_upsert`` after dropping the
   affected dates' rows — the drop handles (date, vendor) groups that
   vanished entirely (all of a vendor's orders moved off the day).

Storage is plain parquet committed through ``sources/commit.py``'s swap
protocol. All four new tables are written to ``<table>.tmp`` against the
OLD state first, so a batch reads a consistent snapshot. Then
``_SWAP.json`` is written atomically in the store; it is the commit
point. Only after it does any live table get renamed aside to
``<table>.old`` and replaced by its tmp. A crash before the record
leaves all four tables old; a crash after it is rolled forward by the
next batch's recovery, so all four become new. The tables never mix
snapshots. A mix would break the fold: a replay that read the new
``orders`` as its previous state would miss the old date of an order the
batch moved, and gold would keep that date's stale count for good.

Be explicit about what the swap costs: it REWRITES each silver table in
full every batch — fine for the daily-file cadence this models, wrong
at 100 TB. The cluster shape is a transactional table format
(Delta/Iceberg): silver keyed MERGE, gold ``replaceWhere`` on the
affected dates — the batch-function body and all its dataframe logic
are unchanged, only the four writes at the end swap for MERGE
statements. The driver holds only the affected-date list (bounded by
the batch's touched days), never data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.dedup import keep_first, last_writer_wins
from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily
from commercepulse_data_pipeline_spark.plans.scd import merge_upsert
from commercepulse_data_pipeline_spark.plans.silver import (
    normalize_orders,
    normalize_payments,
    normalize_refunds,
)
from commercepulse_data_pipeline_spark.sources import commit

_TABLES = ("orders", "payments", "refunds", "gold")


def upsert_gold_batch(
    batch_df: DataFrame,
    store_dir: str,
    *,
    revenue_all_statuses: bool = True,
) -> None:
    """One IVM step: fold a batch of raw envelope events into the silver
    tables and MERGE the affected days into gold. Callable directly (batch
    backfill) or from ``foreachBatch`` (streaming)."""
    spark = batch_df.sparkSession
    paths = {t: os.path.join(store_dir, t) for t in _TABLES}
    tables = [(paths[t], paths[t] + ".tmp", paths[t] + ".old") for t in _TABLES]
    intent = os.path.join(store_dir, "_SWAP.json")
    # finish or undo a prior batch's interrupted swap before reading: a
    # missing table would otherwise read as "first batch ever" and be
    # rebuilt from this batch alone
    commit.recover_swap(tables, intent=intent)

    def load(t: str) -> DataFrame | None:
        return spark.read.parquet(paths[t]) if os.path.exists(paths[t]) else None

    batch = batch_df.where(F.col("event_id").isNotNull())
    o_new = normalize_orders(batch)
    p_new = normalize_payments(batch)
    r_new = normalize_refunds(batch)

    prev_o, prev_p, prev_r, prev_g = (load(t) for t in _TABLES)

    # union + re-dedup with the SAME total ordering the batch layer uses:
    # converges to the batch answer under any event-to-batch split.
    orders = (
        last_writer_wins(
            prev_o.unionByName(o_new), ["order_id"], "created_at", tiebreak_cols=["event_id"]
        )
        if prev_o is not None
        else o_new
    )
    payments = (
        keep_first(
            prev_p.unionByName(p_new), ["payment_id"], "payment_date", tiebreak_cols=["event_id"]
        )
        if prev_p is not None
        else p_new
    )
    refunds = (
        keep_first(
            prev_r.unionByName(r_new), ["refund_id"], "refund_date", tiebreak_cols=["event_id"]
        )
        if prev_r is not None
        else r_new
    )

    # order ids this batch touches, directly or via a payment/refund
    ids = (
        o_new.select("order_id")
        .unionByName(p_new.select("order_id"))
        .unionByName(r_new.select("order_id"))
        .where(F.col("order_id").isNotNull())
        .distinct()
    )
    dirty = orders.join(ids, "order_id", "left_semi").select("order_date")
    if prev_o is not None:
        dirty = dirty.unionByName(
            prev_o.join(ids, "order_id", "left_semi").select("order_date")
        )
    affected_dates = [
        r.order_date
        for r in dirty.where(F.col("order_date").isNotNull()).distinct().collect()
    ]

    # recompute ONLY the affected days from the full maintained silver
    fact = build_fact_order_daily(
        orders.where(F.col("order_date").isin(affected_dates)),
        payments,
        refunds,
        revenue_all_statuses=revenue_all_statuses,
    )
    if prev_g is not None:
        # drop affected days first (handles vanished (date, vendor) groups),
        # then keyed MERGE of the recomputed rows
        kept = prev_g.where(~F.col("order_date").isin(affected_dates))
        gold = merge_upsert(kept, fact, ["order_date", "vendor"], "order_count")
    else:
        gold = fact

    # write all four against the old snapshot, then commit them as one unit
    new_state = {"orders": orders, "payments": payments, "refunds": refunds, "gold": gold}
    for t, df in new_state.items():
        df.write.mode("overwrite").parquet(paths[t] + ".tmp")
    commit.swap(tables, intent=intent)


def maintain_gold_daily_stream(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    *,
    trigger_once: bool = True,
    revenue_all_statuses: bool = True,
):
    """Start the continuous gold maintenance query over a raw event
    stream (``read_event_stream`` output). ``{store_dir}/gold`` converges
    to the batch ``build_fact_order_daily`` over all events seen."""

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        upsert_gold_batch(
            batch_df, store_dir, revenue_all_statuses=revenue_all_statuses
        )

    writer = (
        stream.writeStream.foreachBatch(_batch_fn)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
