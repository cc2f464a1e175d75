"""Silver layer: vendor-schema normalization → fact_orders / fact_payments
/ fact_refunds (reference src/transformer.py:20-127, re-expressed as pure
column projections over the bronze envelope).

Two deliberate capability fixes over the reference (SURVEY §1.4, §7.1):

- **Q1 fixed**: the live event types (``payment_succeeded``,
  ``refund_issued``) are in the type sets, so live payments/refunds flow.
- **Q2 fixed**: the coalesce key lists cover ALL THREE vendor dialects
  (vendor_a ``orderRef/total/created``, vendor_b ``order_id/totalAmount/
  created_at``, vendor_c nested ``order.id`` + epoch ``ts``) instead of
  vendor_b only.

The machinery is identical to the reference's (prioritized key coalescing,
F1) — just with a complete key map. Dedup: last-writer-wins by event time
for orders (reference D1), deterministic keep-first for payments/refunds
(reference D2). Each of these three tables is ``dedup_<t>(<t>_rows(events))``:
the row projection and the dedup are separate functions, because the
gold fold (``streaming/gold_upsert.py``) dedups the previous silver ∪ the
batch's projected rows in one window.

Everything here is a single codegen'd projection per table: at 100 TB the
cost is the bronze scan itself; get_json_object runs JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.drift import (
    canonical_status,
    json_keys,
    numeric_or_zero,
)
from commercepulse_data_pipeline_spark.functions.temporal import parse_timestamp
from commercepulse_data_pipeline_spark.operators.dedup import keep_first, last_writer_wins

# Event-type sets (reference src/transformer.py:192-194, plus the live
# types the reference forgot — Q1 fix).
ORDER_TYPES = ["historical_order", "order_created", "order_updated"]
PAYMENT_TYPES = ["historical_payment", "payment_attempt", "payment_confirmed", "payment_succeeded"]
REFUND_TYPES = ["historical_refund", "refund_created", "refund_processed", "refund_issued"]
# Q8 fix: the reference LOADS shipment events but never consumes them
# (reference src/bootstrap_loader.py:79; SURVEY §1.4 Q8) — this silver
# table is the deliberate capability upgrade.
SHIPMENT_TYPES = ["historical_shipment", "shipment_created", "shipment_updated"]

# Coalesce key maps (reference src/transformer.py:52-74 payments,
# :100-111 refunds, :29-33 orders — extended per FIXTURES §2 dialects).
ORDER_KEYS = {
    "order_id": ["order_id", "orderId", "orderRef", "order.id", "order"],
    "customer_id": ["customerId", "customer_id", "buyerEmail", "customer.email", "buyer.email", "email"],
    "order_amount": ["totalAmount", "total", "amount", "total_amount", "amt"],
    "order_status": ["state", "status", "order_status"],
    "created_at": ["created_at", "created", "order.ts", "ts", "timestamp", "order_date"],
    "currency": ["currencyCode", "currency", "ccy"],
}
PAYMENT_KEYS = {
    "payment_id": ["transaction_id", "payment_id", "id", "paymentId", "txRef", "txn"],
    "order_id": ["order_id", "orderId", "orderRef", "order.id", "order"],
    "payment_amount": ["amountPaid", "amount", "payment_amount", "totalAmount", "amt", "amount_paid"],
    "payment_status": ["payment_status", "status", "state", "payment_state"],
    "payment_method": ["channel", "method", "payment_method", "paymentMethod"],
    "payment_date": ["paid_at", "payment_date", "created_at", "paidAt", "timestamp", "ts", "date"],
}
# Shipment dialects observed in the shipped live day (+ drift variants:
# vendor_a updateTime→update_time, vendor_b shipment_status→status,
# vendor_c state→status) and the historical bootstrap keys
# (reference src/bootstrap_loader.py:35 shipment_id|id|tracking_id, :48
# shipped_at).
SHIPMENT_KEYS = {
    "tracking_id": ["tracking_code", "tracking", "tracking_id", "shipment_id", "id"],
    "order_id": ["order_id", "orderId", "orderRef", "order.id", "order"],
    "shipment_status": ["shipment_status", "status", "state"],
    "shipment_time": ["updateTime", "update_time", "time", "ts", "shipped_at", "timestamp", "date"],
}
REFUND_KEYS = {
    "refund_id": ["refund_id", "id", "refundRef"],
    "order_id": ["order_id", "orderRef", "order.id", "order"],
    "payment_id": ["payment_id", "transaction_id"],
    "refund_amount": ["refundAmount", "refund_amount", "amount", "amt"],
    "refund_reason": ["reason", "refund_reason"],
    "refund_date": ["refunded_at", "refundedAt", "refund_date", "ts", "timestamp", "created_at", "date"],
}


def _extract(payload_col: str, keys: dict[str, list[str]]) -> dict[str, F.Column]:
    p = F.col(payload_col)
    return {out: json_keys(p, candidates, skip_falsy=True) for out, candidates in keys.items()}


def order_rows(events: DataFrame, payload_col: str = "payload") -> DataFrame:
    """fact_orders before dedup: one row per order event with an id."""
    x = _extract(payload_col, ORDER_KEYS)
    df = events.where(F.col("event_type").isin(ORDER_TYPES)).select(
        x["order_id"].alias("order_id"),
        x["customer_id"].alias("customer_id"),
        numeric_or_zero(x["order_amount"]).alias("order_amount"),
        F.lower(x["order_status"]).alias("order_status"),
        parse_timestamp(F.coalesce(x["created_at"], F.col("event_time"))).alias("created_at"),
        F.col("event_id"),
        F.col("vendor"),
        F.col("event_type"),
    )
    df = df.where(F.col("order_id").isNotNull())
    return df.withColumn("order_date", F.to_date("created_at"))


def dedup_orders(rows: DataFrame) -> DataFrame:
    return last_writer_wins(rows, ["order_id"], "created_at", tiebreak_cols=["event_id"])


def normalize_orders(events: DataFrame, payload_col: str = "payload") -> DataFrame:
    """fact_orders: current order state, unique by order_id, last event
    wins by event time (reference src/transformer.py:20-45)."""
    return dedup_orders(order_rows(events, payload_col))


def payment_rows(events: DataFrame, payload_col: str = "payload") -> DataFrame:
    """fact_payments before dedup: one row per payment event with an id."""
    x = _extract(payload_col, PAYMENT_KEYS)
    df = events.where(F.col("event_type").isin(PAYMENT_TYPES)).select(
        x["payment_id"].alias("payment_id"),
        x["order_id"].alias("order_id"),
        numeric_or_zero(x["payment_amount"]).alias("payment_amount"),
        canonical_status(x["payment_status"]).alias("payment_status"),
        x["payment_method"].alias("payment_method"),
        parse_timestamp(F.coalesce(x["payment_date"], F.col("event_time"))).alias("payment_date"),
        F.col("event_id"),
        F.col("vendor"),
    )
    return df.where(F.col("payment_id").isNotNull())


def dedup_payments(rows: DataFrame) -> DataFrame:
    return keep_first(rows, ["payment_id"], "payment_date", tiebreak_cols=["event_id"])


def normalize_payments(events: DataFrame, payload_col: str = "payload") -> DataFrame:
    """fact_payments: append-only, unique by payment_id, status
    canonicalized (reference src/transformer.py:48-93)."""
    return dedup_payments(payment_rows(events, payload_col))


def normalize_shipments(events: DataFrame, payload_col: str = "payload") -> DataFrame:
    """fact_shipments: CURRENT shipment state, unique by tracking_id, last
    update wins by shipment time (same D1 shape as orders). The update
    history stays queryable in bronze; this is the serving view.

    Q8 fix — no reference twin exists (shipments are loaded and dropped
    there); semantics chosen to mirror fact_orders: status lowercased
    (CREATED/PICKED_UP/IN_TRANSIT/DELIVERED dialects), rows without a
    tracking id dropped explicitly."""
    x = _extract(payload_col, SHIPMENT_KEYS)
    df = events.where(F.col("event_type").isin(SHIPMENT_TYPES)).select(
        x["tracking_id"].alias("tracking_id"),
        x["order_id"].alias("order_id"),
        F.lower(x["shipment_status"]).alias("shipment_status"),
        parse_timestamp(F.coalesce(x["shipment_time"], F.col("event_time"))).alias("shipment_time"),
        F.col("event_id"),
        F.col("vendor"),
        F.col("event_type"),
    )
    df = df.where(F.col("tracking_id").isNotNull())
    return last_writer_wins(df, ["tracking_id"], "shipment_time", tiebreak_cols=["event_id"])


def refund_rows(events: DataFrame, payload_col: str = "payload") -> DataFrame:
    """fact_refunds before dedup: one row per refund event. Refunds
    without their own id get a deterministic synthetic id (md5 of
    order+date+event)."""
    x = _extract(payload_col, REFUND_KEYS)
    return events.where(F.col("event_type").isin(REFUND_TYPES)).select(
        F.coalesce(
            x["refund_id"],
            F.md5(F.concat_ws("|", x["order_id"], x["refund_date"], F.col("event_id"))),
        ).alias("refund_id"),
        x["order_id"].alias("order_id"),
        x["payment_id"].alias("payment_id"),
        numeric_or_zero(x["refund_amount"]).alias("refund_amount"),
        x["refund_reason"].alias("refund_reason"),
        F.col("event_type").alias("refund_type"),
        parse_timestamp(F.coalesce(x["refund_date"], F.col("event_time"))).alias("refund_date"),
        F.col("event_id"),
        F.col("vendor"),
    )


def dedup_refunds(rows: DataFrame) -> DataFrame:
    return keep_first(rows, ["refund_id"], "refund_date", tiebreak_cols=["event_id"])


def normalize_refunds(events: DataFrame, payload_col: str = "payload") -> DataFrame:
    """fact_refunds: append-only, unique by refund_id (reference
    src/transformer.py:96-127) — the reference would have dropped
    id-less refunds into a single NULL-keyed row."""
    return dedup_refunds(refund_rows(events, payload_col))
