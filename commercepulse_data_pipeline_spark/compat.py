"""Bug-compat reference mode: reproduce the reference's shipped outputs
bit-for-bit, quirks included (SURVEY §1.4 Q1-Q5).

The default silver layer (plans/silver.py) deliberately FIXES Q1/Q2
(live payment/refund types flow; all three vendor dialects resolve).
This module is the faithful twin used by the golden-replay test
(tests/test_golden_replay.py) and the ``--ref-compat`` CLI flag: same
engine machinery, the reference's exact type sets, key lists, and edge
semantics:

- Q1: live ``payment_succeeded`` / ``refund_issued`` are NOT in the type
  sets (reference src/transformer.py:193-194), so live payments/refunds
  never reach silver.
- Q2: order normalization reads ONLY the vendor_b keys
  (``order_id/customerId/totalAmount/state/created_at``, reference
  src/transformer.py:29-33); vendor_a/vendor_c orders extract NULL ids
  and collapse into one row.
- NULL keys are kept and deduped as ONE group (pandas ``drop_duplicates``
  treats NaN keys as equal; Spark windows group NULLs together too).
- Dedup order: ``sort_values(created_at, na_position='first') →
  keep='last'`` (reference src/transformer.py:40). For ties (same or
  all-NULL created_at) the reference keeps whatever lands last after an
  unstable sort of rows in Mongo insertion order; empirically (golden
  replay recon vs warehouse/facts/fact_orders.csv) the survivor is the
  LAST occurrence in ingestion order, so the tie-break here is a ``pos``
  column carrying ingestion position (descending).
- Orphan checks use NULL-SAFE membership: pandas ``isin`` matches NaN to
  NaN (reference src/quality_report.py:61-66), unlike SQL equality.

Everything is stock DataFrame ops — one window per dedup, one join +
two pre-aggregations for the daily fact, single-pass aggregates for the
report — so bug-compat mode scales exactly like the fixed mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.drift import (
    canonical_status,
    json_keys,
    numeric_or_zero,
)
from commercepulse_data_pipeline_spark.functions.temporal import days_between, parse_timestamp
from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily

# Reference type sets, verbatim (src/transformer.py:192-194) — Q1 intact:
# no payment_succeeded / refund_issued.
REF_ORDER_TYPES = ["historical_order", "order_created", "order_updated"]
REF_PAYMENT_TYPES = ["historical_payment", "payment_attempt", "payment_confirmed"]
REF_REFUND_TYPES = ["historical_refund", "refund_created", "refund_processed"]

POS_COL = "ingest_pos"


def read_events_with_pos(spark: SparkSession, path: str) -> DataFrame:
    """JSONL scan carrying ingestion position (file order) for the
    reference's tie-break semantics.

    Position = ``file_rank * 2^40 + row_index_within_file``. A bare
    ``monotonically_increasing_id`` is NOT file-ordered across files —
    Spark packs input splits sorted by size descending, so partition
    order need not follow path order (ADVICE r2). File rank therefore
    comes from a dense_rank window over the DISTINCT input file paths —
    a file-count-sized single-partition window, kept off the driver; the
    within-file index is a per-file window over the monotonic id, which
    follows byte order whenever each file maps to a single input split
    (files < ``spark.sql.files.maxPartitionBytes``; the reference's daily
    live files are MBs. For files bigger than one split, within-file
    order is split-granular — pre-split such inputs upstream if exact
    intra-file ordering matters).

    Duplicate event_ids collapse to their FIRST occurrence's position
    (Mongo upsert keeps the first document's insertion position; the
    ``$set`` replaces content, which differs only in ``ingested_at`` —
    unused downstream).
    """
    from commercepulse_data_pipeline_spark.sources.readers import (
        read_jsonl_events,
        valid_events,
    )

    raw = read_jsonl_events(spark, path)
    good = (
        valid_events(raw)
        .withColumn("__file", F.input_file_name())
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    # File rank stays DISTRIBUTED: a dense_rank window over the distinct
    # file paths (one row per input file — a single-partition window over
    # a file-count-sized table, not a data-sized one) replaces the former
    # driver-side collect+sort, so file-count never hits driver memory.
    ranks = (
        good.select("__file")
        .distinct()
        .withColumn(
            "__file_rank",
            (F.dense_rank().over(Window.orderBy(F.col("__file").asc())) - 1).cast(
                "int"
            ),
        )
    )
    in_file = Window.partitionBy("__file").orderBy(F.col("__mid").asc())
    good = (
        good.join(F.broadcast(ranks), "__file", "left")
        .withColumn(
            POS_COL,
            F.coalesce(F.col("__file_rank"), F.lit(0)).cast("long") * F.lit(1 << 40)
            + F.row_number().over(in_file).cast("long"),
        )
        .drop("__file", "__mid", "__file_rank")
    )
    w = Window.partitionBy("event_id").orderBy(F.col(POS_COL).asc())
    return (
        good.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def ensure_pos(events: DataFrame) -> DataFrame:
    """Make an arbitrary bronze frame usable by the ``*_ref`` normalizers:
    if no ingestion position was recorded, ties fall back to a constant
    (the survivor among exact ties is then Spark-arbitrary, like pandas')."""
    if POS_COL in events.columns:
        return events
    return events.withColumn(POS_COL, F.lit(0).cast("long"))


def _dedup_ref(df: DataFrame, key: str, order_col: str | None) -> DataFrame:
    """Reference dedup: NULL keys form one group; ``order_col`` descending
    with NULLs last (sort na_position='first' + keep='last'), ingestion
    position descending as the tie-break (see module docstring)."""
    ordering = []
    if order_col is not None:
        ordering.append(F.col(order_col).desc_nulls_last())
    ordering.append(F.col(POS_COL).desc())
    w = Window.partitionBy(key).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", POS_COL)
    )


def normalize_orders_ref(events: DataFrame) -> DataFrame:
    """fact_orders, reference-exact (src/transformer.py:20-41): vendor_b
    keys only (Q2), plain ``payload.get`` (no falsy skip), NULL ids kept,
    last-writer-wins with the NaT-first/keep-last ordering."""
    p = F.col("payload")
    df = events.where(F.col("event_type").isin(REF_ORDER_TYPES)).select(
        F.get_json_object(p, "$.order_id").alias("order_id"),
        F.get_json_object(p, "$.customerId").alias("customer_id"),
        # float(payload.get("totalAmount", 0)) — missing key → 0.0
        F.coalesce(F.get_json_object(p, "$.totalAmount").try_cast("double"), F.lit(0.0)).alias("order_amount"),
        F.get_json_object(p, "$.state").alias("order_status"),
        parse_timestamp(F.get_json_object(p, "$.created_at")).alias("created_at"),
        F.col("event_id"),
        F.col("vendor"),
        F.col("event_type"),
        F.col(POS_COL),
    )
    df = _dedup_ref(df, "order_id", "created_at")
    return df.withColumn("order_date", F.to_date("created_at"))


# Reference coalesce key lists, verbatim (src/transformer.py:52-74, :100-111).
_REF_PAYMENT_KEYS = {
    "payment_id": ["transaction_id", "payment_id", "id", "paymentId"],
    "order_id": ["order_id", "orderId"],
    "payment_amount": ["amountPaid", "amount", "payment_amount", "totalAmount"],
    "payment_status": ["payment_status", "status", "state"],
    "payment_method": ["channel", "method", "payment_method"],
    "payment_date": ["paid_at", "payment_date", "created_at"],
}
_REF_REFUND_KEYS = {
    "refund_id": ["refund_id", "id", "transaction_id"],
    "order_id": ["order_id", "orderId"],
    "payment_id": ["payment_id", "paymentId", "transaction_id"],
    "refund_amount": ["amountRefunded", "amount", "refund_amount", "totalAmount"],
    "refund_reason": ["reason", "refund_reason"],
    "refund_type": ["type", "refund_type"],
    "refund_date": ["refunded_at", "refund_date", "created_at"],
}


def normalize_payments_ref(events: DataFrame) -> DataFrame:
    """fact_payments, reference-exact (src/transformer.py:44-89):
    falsy-skipping ``or``-chains, NULL payment_ids kept (and collapsed to
    one row), keep-FIRST in ingestion order."""
    p = F.col("payload")
    k = {out: json_keys(p, cands, skip_falsy=True) for out, cands in _REF_PAYMENT_KEYS.items()}
    df = events.where(F.col("event_type").isin(REF_PAYMENT_TYPES)).select(
        k["payment_id"].alias("payment_id"),
        k["order_id"].alias("order_id"),
        numeric_or_zero(k["payment_amount"]).alias("payment_amount"),
        canonical_status(k["payment_status"]).alias("payment_status"),
        k["payment_method"].alias("payment_method"),
        parse_timestamp(k["payment_date"]).alias("payment_date"),
        F.col("event_id"),
        F.col("vendor"),
        (-F.col(POS_COL)).alias(POS_COL),  # keep-first = keep-last of negated pos
    )
    return _dedup_ref(df, "payment_id", None)


def normalize_refunds_ref(events: DataFrame) -> DataFrame:
    """fact_refunds, reference-exact (src/transformer.py:92-127):
    ``refund_type`` comes from the PAYLOAD (type|refund_type), not the
    event type; NULL refund_ids collapse to one row; keep-first."""
    p = F.col("payload")
    k = {out: json_keys(p, cands, skip_falsy=True) for out, cands in _REF_REFUND_KEYS.items()}
    df = events.where(F.col("event_type").isin(REF_REFUND_TYPES)).select(
        k["refund_id"].alias("refund_id"),
        k["order_id"].alias("order_id"),
        k["payment_id"].alias("payment_id"),
        numeric_or_zero(k["refund_amount"]).alias("refund_amount"),
        k["refund_reason"].alias("refund_reason"),
        k["refund_type"].alias("refund_type"),
        parse_timestamp(k["refund_date"]).alias("refund_date"),
        F.col("event_id"),
        F.col("vendor"),
        (-F.col(POS_COL)).alias(POS_COL),
    )
    return _dedup_ref(df, "refund_id", None)


def build_fact_order_daily_ref(
    orders: DataFrame, payments: DataFrame, refunds: DataFrame
) -> DataFrame:
    """The reference's exact daily fact (src/transformer.py:130-165):
    gross includes failed payments (Q3), paid_count counts successful
    PAYMENTS (not orders), NULL-date orders silently dropped (Q5)."""
    return build_fact_order_daily(
        orders, payments, refunds, paid_count_per_payment=True
    )


def _null_safe_anti_count(left: DataFrame, right: DataFrame, left_key: str, right_key: str) -> int:
    """pandas ``~left[k].isin(right[k])`` — NaN matches NaN (reference
    src/quality_report.py:61-66), so the anti-join must be null-safe."""
    rhs = right.select(F.col(right_key).alias("__rk")).distinct()
    return left.join(rhs, F.col(left_key).eqNullSafe(F.col("__rk")), "left_anti").count()


def quality_report_ref(
    orders: DataFrame, payments: DataFrame, refunds: DataFrame
) -> dict[str, object]:
    """The reference's quality report numbers (src/quality_report.py:6-165)
    as a plain dict — completeness, null-safe orphans, late-arrival
    metrics, success-only revenue integrity, and the two breakdowns."""
    o = orders.agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.sum(F.col("customer_id").isNull().cast("long")).alias("orders_missing_customer_id"),
        F.sum((F.col("order_amount") == 0).cast("long")).alias("orders_missing_amount"),
    ).first()
    p = payments.agg(
        F.count(F.lit(1)).alias("total_payments"),
        F.sum(F.col("order_id").isNull().cast("long")).alias("payments_missing_order_id"),
        F.sum((F.col("payment_status") == "success").cast("long")).alias("successful_count"),
        F.round(
            F.sum(F.when(F.col("payment_status") == "success", F.col("payment_amount")).otherwise(F.lit(0.0))),
            2,
        ).alias("gross_revenue"),
    ).first()
    r = refunds.agg(
        F.count(F.lit(1)).alias("total_refunds"),
        F.sum(F.col("payment_id").isNull().cast("long")).alias("refunds_missing_payment_id"),
        F.round(F.coalesce(F.sum("refund_amount"), F.lit(0.0)), 2).alias("total_refunded"),
    ).first()

    lag = days_between(F.col("payment_date"), F.col("created_at"))
    late = (
        orders.select("order_id", "created_at")
        .join(payments.select("order_id", "payment_date"), "order_id", "inner")
        .agg(
            F.coalesce(F.sum((lag > 7).cast("long")), F.lit(0)).alias("over7"),
            F.coalesce(F.sum((lag > 30).cast("long")), F.lit(0)).alias("over30"),
            F.round(F.avg(lag), 2).alias("avg_days"),
        )
        .first()
    )

    gross = float(p["gross_revenue"] or 0.0)
    refunded = float(r["total_refunded"] or 0.0)
    report = {
        "total_orders": o["total_orders"],
        "total_payments": p["total_payments"],
        "total_refunds": r["total_refunds"],
        "orders_missing_customer_id": o["orders_missing_customer_id"],
        "orders_missing_amount": o["orders_missing_amount"],
        "payments_missing_order_id": p["payments_missing_order_id"],
        "refunds_missing_payment_id": r["refunds_missing_payment_id"],
        "orphan_payments": _null_safe_anti_count(payments, orders, "order_id", "order_id"),
        "orphan_refunds": _null_safe_anti_count(refunds, payments, "payment_id", "payment_id"),
        "payments_over_7_days": late["over7"],
        "payments_over_30_days": late["over30"],
        "avg_days_to_payment": float(late["avg_days"]) if late["avg_days"] is not None else 0,
        "gross_revenue": round(gross, 2),
        "total_refunded": round(refunded, 2),
        "net_revenue": round(gross - refunded, 2),
        "payment_success_rate": (
            round(p["successful_count"] / p["total_payments"], 4) if p["total_payments"] else 0
        ),
        "refund_rate": round(refunded / gross, 4) if gross > 0 else 0,
        "status_breakdown": {
            row["payment_status"]: row["n"]
            for row in payments.groupBy("payment_status").agg(F.count(F.lit(1)).alias("n")).collect()
        },
        "vendor_breakdown": {
            row["vendor"]: row["n"]
            for row in orders.groupBy("vendor").agg(F.count(F.lit(1)).alias("n")).collect()
        },
    }
    return report
