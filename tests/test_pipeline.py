"""Pipeline-level tests: bronze ingestion → silver normalization → gold
aggregate → quality report → dimensions, over the reference-shaped fixture
events (conftest.fixture_events — FIXTURES.md dialects).

Mirrors the reference's own acceptance style (SURVEY §5: the quality
report as a runtime test harness) with real assertions: referential
invariants (orphans + matched = total), net = gross − refunds, rates in
[0,1], vendor-dialect normalization (Q2 fix), live-type flow (Q1 fix).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.plans.dimensions import (
    build_dim_customer,
    build_dim_date,
    build_dim_product,
)
from commercepulse_data_pipeline_spark.plans.gold import (
    build_fact_order_daily,
    revenue_by_date,
    vendor_success_pct,
)
from commercepulse_data_pipeline_spark.plans.quality import full_report
from commercepulse_data_pipeline_spark.plans.silver import (
    normalize_orders,
    normalize_payments,
    normalize_refunds,
)
from commercepulse_data_pipeline_spark.sources.readers import (
    read_jsonl_events,
    skip_count,
    valid_events,
)


# --------------------------------------------------------------------------
# Bronze: JSONL scan with bad-record counting + idempotency (S2, K1/D3)
# --------------------------------------------------------------------------

def test_jsonl_skip_count(spark, events_jsonl):
    raw = read_jsonl_events(spark, events_jsonl)
    # one corrupt line + one line missing event_id (reference loader skips)
    assert skip_count(raw) == 2


def test_bronze_idempotent_dedup(bronze_events):
    # 16 valid envelope lines, one exact event_id duplicate → 15 unique
    assert bronze_events.count() == 15
    assert bronze_events.select("event_id").distinct().count() == 15


# --------------------------------------------------------------------------
# Silver: vendor-dialect normalization (F1-F3/F7, D1/D2; Q1+Q2 fixed)
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def silver(bronze_events):
    orders = normalize_orders(bronze_events)
    payments = normalize_payments(bronze_events)
    refunds = normalize_refunds(bronze_events)
    for df in (orders, payments, refunds):
        df.cache().count()
    return orders, payments, refunds


def test_silver_orders_all_vendor_dialects(silver):
    orders, _, _ = silver
    rows = {r.order_id: r for r in orders.collect()}
    # the id-less order is dropped; all three dialects resolve (Q2 fix)
    assert set(rows) == {"O1", "O2", "O3", "O4"}
    # vendor_b: last-writer-wins kept the later update's state (D1)
    assert rows["O1"].order_status == "confirmed"
    assert rows["O1"].order_amount == 1000.0
    # vendor_a: orderRef/total/created slash-format timestamp
    assert rows["O2"].order_amount == 500.0
    assert rows["O2"].created_at is not None
    # vendor_c: nested order.id + epoch-seconds ts
    assert rows["O3"].order_amount == 250.0
    assert str(rows["O3"].created_at).startswith("2026-02-12 08:00")
    # zero amount preserved as 0.0 (F7/Q10 semantics)
    assert rows["O4"].order_amount == 0.0


def test_silver_payments_keep_first_and_status_canon(silver):
    _, payments, _ = silver
    rows = {r.payment_id: r for r in payments.collect()}
    assert set(rows) == {"P1", "P2", "P3", "P4", "P6"}
    # duplicate payment id: FIRST by payment_date wins (D2) — not the 9999 replay
    assert rows["P1"].payment_amount == 1000.0
    # status canonicalization (F2): successful→success, FAILED→failed, paid→success
    assert rows["P1"].payment_status == "success"
    assert rows["P2"].payment_status == "failed"
    assert rows["P3"].payment_status == "success"
    # live payment_succeeded events flow (Q1 fix)
    assert rows["P6"].payment_status == "success"


def test_silver_refunds_live_types_flow(silver):
    _, _, refunds = silver
    rows = {r.refund_id: r for r in refunds.collect()}
    # Q1 fix: refund_issued (live type) is transformed — the reference kept 1 row of 268
    assert set(rows) == {"R1", "R2"}
    assert rows["R1"].refund_amount == 100.0
    assert rows["R2"].refund_amount == 50.0


# --------------------------------------------------------------------------
# Gold: fact_order_daily (A1 as pre-agg + join + groupBy)
# --------------------------------------------------------------------------

def test_fact_order_daily_values(silver):
    orders, payments, refunds = silver
    daily = build_fact_order_daily(orders, payments, refunds)
    rows = {(str(r.order_date), r.vendor): r for r in daily.collect()}
    assert len(rows) == 4
    o1 = rows[("2026-02-11", "vendor_b")]
    assert o1.gross_revenue == 1000.0 and o1.total_refunds == 100.0
    assert o1.net_revenue == 900.0
    assert o1.order_count == 1 and o1.paid_count == 1
    assert o1.payment_success_rate == 1.0 and o1.refund_rate == 0.1
    o2 = rows[("2026-02-10", "vendor_a")]
    # Q3: all-statuses gross includes the FAILED payment
    assert o2.gross_revenue == 500.0 and o2.paid_count == 0
    assert o2.payment_success_rate == 0.0
    # orphan payment (O-GHOST) contributes to NO group
    total_gross = sum(r.gross_revenue for r in rows.values())
    assert total_gross == 1000.0 + 500.0 + 250.0 + 10.0


def test_readme_analytics_queries(silver):
    orders, payments, refunds = silver
    daily = build_fact_order_daily(orders, payments, refunds)
    by_date = {str(r.order_date): r for r in revenue_by_date(daily).collect()}
    assert by_date["2026-02-12"].gross_revenue == 260.0  # O3 250 + O4 10
    assert by_date["2026-02-11"].net_revenue == 900.0
    pct = {r.vendor: r.success_pct for r in vendor_success_pct(daily).collect()}
    assert pct["vendor_a"] == 0.0 and pct["vendor_b"] == 100.0


# --------------------------------------------------------------------------
# Quality report (reference src/quality_report.py as declarative aggregates)
# --------------------------------------------------------------------------

def test_quality_report_sections(silver):
    orders, payments, refunds = silver
    rep = full_report(orders, payments, refunds)

    comp = rep["completeness"].collect()[0]
    assert comp.total_orders == 4
    assert comp.null_customer_id == 1  # vendor_c payload has no customer key
    assert comp.zero_amount_orders == 1
    assert comp.null_created_at == 0

    orph = rep["orphans"].collect()[0]
    assert orph.orphan_payments == 1  # P4 → O-GHOST
    assert orph.orphan_refunds == 1   # R2 → P-GHOST

    rev = rep["revenue_integrity"].collect()[0]
    assert rev.gross_revenue_success == 1302.0  # 1000 + 250 + 42 + 10
    assert rev.total_refunded == 150.0
    assert rev.net_revenue == 1152.0
    assert rev.payment_success_rate == 0.8  # 4 of 5
    assert 0.0 <= rev.refund_rate <= 1.0

    status = {r.payment_status: (r.n, r.pct) for r in rep["status_breakdown"].collect()}
    assert status["success"] == (4, 80.0)
    assert status["failed"] == (1, 20.0)

    late = rep["late_arrival"].collect()[0]
    # invariant: matched = total payments − orphans
    assert late.matched_payments == 5 - orph.orphan_payments


# --------------------------------------------------------------------------
# Dimensions (S5/F5, A2)
# --------------------------------------------------------------------------

def test_dim_date_calendar(spark):
    dim = build_dim_date(spark)
    assert dim.count() == 1461  # 2023-01-01 .. 2026-12-31
    feb14 = dim.where(F.col("date_key") == F.lit("2026-02-14").cast("date")).collect()[0]
    assert feb14.day_of_week == "Saturday" and feb14.is_weekend
    assert feb14.quarter == 1 and feb14.year == 2026


def test_dim_customer_first_seen(spark, silver):
    orders, _, _ = silver
    dim = build_dim_customer(orders)
    rows = {r.customer_id for r in dim.collect()}
    assert rows == {"C1", "c2@x.com", "C3"}  # NULL customer (O3) excluded
    assert build_dim_product(spark).count() == 1


# --------------------------------------------------------------------------
# CDC merge-upsert + SCD2 (MERGE INTO emulation)
# --------------------------------------------------------------------------

def test_merge_upsert(spark):
    from commercepulse_data_pipeline_spark.plans.scd import merge_upsert

    target = spark.createDataFrame(
        [("O1", "pending", 1), ("O2", "confirmed", 1)], ["order_id", "status", "v"]
    )
    updates = spark.createDataFrame(
        [("O1", "shipped", 2), ("O1", "confirmed", 1), ("O3", "pending", 1)],
        ["order_id", "status", "v"],
    )
    out = {r.order_id: r.status for r in
           merge_upsert(target, updates, ["order_id"], "v").collect()}
    assert out == {"O1": "shipped", "O2": "confirmed", "O3": "pending"}


def test_scd2_history_and_asof(spark):
    from commercepulse_data_pipeline_spark.plans.scd import as_of, scd2_history

    rows = [
        ("O1", "pending", "2026-02-10 10:00:00"),
        ("O1", "confirmed", "2026-02-11 09:00:00"),
        ("O1", "shipped", "2026-02-12 08:00:00"),
        ("O2", "pending", "2026-02-11 12:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["order_id", "status", "s"]).select(
        "order_id", "status", F.to_timestamp("s").alias("ts")
    )
    hist = scd2_history(ev, ["order_id"], "ts")
    current = {r.order_id: r.status for r in hist.where("is_current").collect()}
    assert current == {"O1": "shipped", "O2": "pending"}
    # point-in-time: on 2026-02-11 at noon O1 was confirmed
    snap = {r.order_id: r.status for r in as_of(hist, "2026-02-11 12:30:00").collect()}
    assert snap == {"O1": "confirmed", "O2": "pending"}
