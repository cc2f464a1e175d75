"""Shared fixtures: one SparkSession per test session, plus a
reference-shaped event-stream fixture (FIXTURES.md dialects: vendor_a /
vendor_b / vendor_c payloads, duplicates, late arrivals, corrupt lines)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("commercepulse-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


# --------------------------------------------------------------------------
# Reference-shaped event fixtures. Deterministic, hand-written — each event
# exercises one dialect/edge from FIXTURES.md §1-2.
# --------------------------------------------------------------------------

def _env(event_id, event_type, event_time, vendor, payload, ingested_at=None):
    return {
        "event_id": event_id,
        "event_type": event_type,
        "event_time": event_time,
        "vendor": vendor,
        "payload": json.dumps(payload),
        "ingested_at": ingested_at or "2026-02-20T00:00:00Z",
        "source": "test_fixture",
    }


def _envelope_frame(spark, events):
    """``events`` (``_env`` dicts) as a DataFrame of the envelope schema."""
    from commercepulse_data_pipeline_spark.sources.readers import ENVELOPE_SCHEMA

    names = ENVELOPE_SCHEMA.fieldNames()
    return spark.createDataFrame([tuple(e.get(n) for n in names) for e in events], ENVELOPE_SCHEMA)


def fixture_events() -> list[dict]:
    ev = []
    # -- orders: vendor_b dialect (flat, ISO timestamps) ------------------
    ev.append(_env("ord-b-1", "order_created", "2026-02-10T10:00:00Z", "vendor_b",
                   {"order_id": "O1", "customerId": "C1", "totalAmount": 1000.0,
                    "state": "pending", "created_at": "2026-02-10T10:00:00Z"}))
    # same order updated later — last-writer-wins should keep this state
    ev.append(_env("ord-b-2", "order_updated", "2026-02-11T09:00:00Z", "vendor_b",
                   {"order_id": "O1", "customerId": "C1", "totalAmount": 1000.0,
                    "state": "confirmed", "created_at": "2026-02-11T09:00:00Z"}))
    # -- orders: vendor_a dialect (orderRef/total/created, slash format) --
    ev.append(_env("ord-a-1", "order_created", "2026-02-10T11:00:00Z", "vendor_a",
                   {"orderRef": "O2", "buyerEmail": "c2@x.com", "total": 500.0,
                    "status": "confirmed", "created": "2026/02/10 11:00:00"}))
    # -- orders: vendor_c dialect (nested order.id, epoch seconds) --------
    ev.append(_env("ord-c-1", "order_created", "2026-02-12T08:00:00Z", "vendor_c",
                   {"order": {"id": "O3"}, "amount": 250.0, "state": "pending",
                    "ts": 1770883200}))  # 2026-02-12T08:00:00Z
    # order with zero amount (completeness check counts it)
    ev.append(_env("ord-b-3", "order_created", "2026-02-12T12:00:00Z", "vendor_b",
                   {"order_id": "O4", "customerId": "C3", "totalAmount": 0,
                    "state": "pending", "created_at": "2026-02-12T12:00:00Z"}))
    # order whose payload lacks any order id → dropped by silver
    ev.append(_env("ord-x-1", "order_created", "2026-02-12T13:00:00Z", "vendor_a",
                   {"note": "malformed, no id", "total": 77.0}))
    # EXACT duplicate of ord-b-2 (same event_id — bronze idempotency)
    ev.append(_env("ord-b-2", "order_updated", "2026-02-11T09:00:00Z", "vendor_b",
                   {"order_id": "O1", "customerId": "C1", "totalAmount": 1000.0,
                    "state": "confirmed", "created_at": "2026-02-11T09:00:00Z"},
                   ingested_at="2026-02-21T00:00:00Z"))

    # -- payments ---------------------------------------------------------
    ev.append(_env("pay-1", "payment_succeeded", "2026-02-10T10:05:00Z", "vendor_b",
                   {"transaction_id": "P1", "order_id": "O1", "amountPaid": 1000.0,
                    "payment_status": "successful", "channel": "card",
                    "paid_at": "2026-02-10T10:05:00Z"}))
    ev.append(_env("pay-2", "payment_attempt", "2026-02-10T11:05:00Z", "vendor_a",
                   {"paymentId": "P2", "orderRef": "O2", "amount": 500.0,
                    "status": "FAILED", "method": "transfer",
                    "date": "2026/02/10 11:05:00"}))
    ev.append(_env("pay-3", "payment_confirmed", "2026-02-12T08:30:00Z", "vendor_c",
                   {"id": "P3", "order": {"id": "O3"}, "payment_amount": 250.0,
                    "state": "paid", "ts": 1770885000}))
    # orphan payment: no matching order
    ev.append(_env("pay-4", "payment_succeeded", "2026-02-12T09:00:00Z", "vendor_b",
                   {"transaction_id": "P4", "order_id": "O-GHOST", "amountPaid": 42.0,
                    "payment_status": "completed", "paid_at": "2026-02-12T09:00:00Z"}))
    # duplicate payment id (keep-first dedup)
    ev.append(_env("pay-5", "payment_succeeded", "2026-02-12T10:00:00Z", "vendor_b",
                   {"transaction_id": "P1", "order_id": "O1", "amountPaid": 9999.0,
                    "payment_status": "success", "paid_at": "2026-02-12T10:00:00Z"}))
    # LATE payment: event_time 7 days before ingested_at
    ev.append(_env("pay-6", "payment_succeeded", "2026-02-13T00:00:00Z", "vendor_b",
                   {"transaction_id": "P6", "order_id": "O4", "amountPaid": 10.0,
                    "payment_status": "success", "paid_at": "2026-02-13T00:00:00Z"},
                   ingested_at="2026-02-20T00:00:00Z"))

    # -- refunds ----------------------------------------------------------
    ev.append(_env("ref-1", "refund_issued", "2026-02-13T12:00:00Z", "vendor_b",
                   {"refund_id": "R1", "order_id": "O1", "payment_id": "P1",
                    "refundAmount": 100.0, "reason": "damaged",
                    "refunded_at": "2026-02-13T12:00:00Z"}))
    # orphan refund: references a payment that doesn't exist
    ev.append(_env("ref-2", "refund_issued", "2026-02-13T13:00:00Z", "vendor_a",
                   {"refund_id": "R2", "orderRef": "O2", "payment_id": "P-GHOST",
                    "amount": 50.0, "reason": "other",
                    "refundedAt": "2026-02-13T13:00:00Z"}))

    # -- shipment (loaded, never transformed — reference Q8) --------------
    ev.append(_env("shp-1", "shipment_updated", "2026-02-14T12:00:00Z", "vendor_b",
                   {"tracking_id": "T1", "order_id": "O1", "status": "in_transit"}))
    return ev


@pytest.fixture(scope="session")
def events_jsonl(tmp_path_factory) -> str:
    """JSONL landing file: fixture events + one corrupt line + one line
    missing event_id (the reference's loader skip cases, S2)."""
    d = tmp_path_factory.mktemp("live_events")
    p = d / "events.jsonl"
    lines = [json.dumps(e) for e in fixture_events()]
    lines.append("{this is not json")
    lines.append(json.dumps({"event_type": "order_created", "payload": "{}"}))
    p.write_text("\n".join(lines) + "\n")
    return str(p)


@pytest.fixture(scope="session")
def bronze_events(spark, events_jsonl):
    """Validated + deduplicated envelope DataFrame (bronze read shape)."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        read_jsonl_events,
        valid_events,
    )

    df = valid_events(read_jsonl_events(spark, events_jsonl)).dropDuplicates(["event_id"])
    df.cache().count()
    return df
