"""Analyst query templates over the maintained store, each with a DuckDB
twin over the same parquet. A template draws its parameters from ``rng``
and returns (spark_query, duckdb_query, tolerances by column index); each
query is a thunk returning rows, so the caller times the Spark side alone."""

from __future__ import annotations

import os

from oracle import MONEY_TOL, RATE_TOL, pq
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.plans import gold, quality
from commercepulse_data_pipeline_spark.sources import readers


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Store:
    """The gold_upsert store layout: <root>/{orders,payments,refunds,gold}."""

    def __init__(self, spark, root: str, fx_csv: str) -> None:
        self.spark, self.root, self.fx_csv = spark, root, fx_csv

    def df(self, table: str):
        return self.spark.read.parquet(os.path.join(self.root, table))

    def pq(self, table: str) -> str:
        return pq(os.path.join(self.root, table))


def _date_range(s: Store, con, rng):
    dates = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT order_date FROM {s.pq('gold')} ORDER BY 1"
        ).fetchall()
    ]
    a = rng.randrange(len(dates))
    b = min(len(dates) - 1, a + rng.randrange(1, 8))
    return dates[a], dates[b]


def revenue_by_date(s: Store, con, rng):
    got = lambda: _rows(gold.revenue_by_date(s.df("gold")).orderBy("order_date"))
    want = lambda: con.execute(
        f"SELECT order_date, round(sum(gross_revenue), 2), round(sum(net_revenue), 2) "
        f"FROM {s.pq('gold')} GROUP BY 1 ORDER BY 1"
    ).fetchall()
    return got, want, {1: MONEY_TOL, 2: MONEY_TOL}


def vendor_success_pct(s: Store, con, rng):
    got = lambda: _rows(gold.vendor_success_pct(s.df("gold")).orderBy("vendor"))
    want = lambda: con.execute(
        f"SELECT vendor, round(avg(payment_success_rate) * 100, 4) "
        f"FROM {s.pq('gold')} GROUP BY 1 ORDER BY 1"
    ).fetchall()
    return got, want, {1: 100 * RATE_TOL}


def vendor_revenue_range(s: Store, con, rng):
    a, b = _date_range(s, con, rng)
    got = lambda: _rows(
        s.df("gold")
        .where(F.col("order_date").between(a, b))
        .groupBy("vendor")
        .agg(F.round(F.sum("gross_revenue"), 2), F.sum("order_count"))
        .orderBy("vendor")
    )
    want = lambda: con.execute(
        f"SELECT vendor, round(sum(gross_revenue), 2), sum(order_count) FROM {s.pq('gold')} "
        f"WHERE order_date BETWEEN ? AND ? GROUP BY 1 ORDER BY 1",
        [a, b],
    ).fetchall()
    return got, want, {1: MONEY_TOL}


def order_lookup(s: Store, con, rng):
    n = con.execute(f"SELECT count(*) FROM {s.pq('orders')}").fetchone()[0]
    oid = con.execute(
        f"SELECT order_id FROM {s.pq('orders')} ORDER BY order_id LIMIT 1 OFFSET ?",
        [rng.randrange(n)],
    ).fetchone()[0]
    cols = ["order_id", "vendor", "order_amount", "order_status", "payment_id",
            "payment_amount", "payment_status"]
    got = lambda: _rows(
        s.df("orders").where(F.col("order_id") == oid)
        .join(s.df("payments").drop("vendor", "event_id"), "order_id", "left")
        .select(*cols)
        .orderBy("payment_id")
    )
    want = lambda: con.execute(
        f"SELECT o.order_id, o.vendor, o.order_amount, o.order_status, p.payment_id, "
        f"p.payment_amount, p.payment_status FROM {s.pq('orders')} o "
        f"LEFT JOIN {s.pq('payments')} p ON o.order_id = p.order_id "
        f"WHERE o.order_id = ? ORDER BY p.payment_id NULLS FIRST",
        [oid],
    ).fetchall()
    return got, want, {}


def revenue_ngn(s: Store, con, rng):
    """normalize_currency: vendor_c books in USD; convert at the as-of rate."""
    a, b = _date_range(s, con, rng)
    orders = s.df("orders").withColumn(
        "currency", F.when(F.col("vendor") == "vendor_c", "USD").otherwise("NGN")
    ).where(F.col("order_date").between(a, b))
    fx = readers.read_fx_rates(s.spark, s.fx_csv)
    conv = gold.normalize_currency(orders, fx, amount_col="order_amount", date_col="order_date")
    got = lambda: _rows(
        conv.groupBy("vendor").agg(F.round(F.sum("order_amount_ngn"), 2)).orderBy("vendor")
    )
    want = lambda: con.execute(
        f"""
        WITH fx AS (SELECT CAST(date AS DATE) AS fx_date, max(USDNGN) AS r
                    FROM read_csv('{s.fx_csv}', header = true) GROUP BY 1),
        o AS (SELECT * FROM {s.pq('orders')} WHERE order_date BETWEEN ? AND ?)
        SELECT o.vendor, round(sum(CASE WHEN o.vendor = 'vendor_c' AND fx.r IS NOT NULL
            THEN CAST(round(CAST(o.order_amount * fx.r AS DECIMAL(30, 8)), 2) AS DOUBLE)
            ELSE CAST(round(CAST(o.order_amount AS DECIMAL(30, 8)), 2) AS DOUBLE) END), 2)
        FROM o ASOF LEFT JOIN fx ON o.order_date >= fx.fx_date
        GROUP BY 1 ORDER BY 1
        """,
        [a, b],
    ).fetchall()
    return got, want, {1: MONEY_TOL}


def quality_completeness(s: Store, con, rng):
    got = lambda: _rows(quality.completeness(s.df("orders")))
    want = lambda: con.execute(
        f"SELECT count(*), count(*) - count(customer_id), "
        f"sum(CASE WHEN order_amount = 0 THEN 1 ELSE 0 END), "
        f"count(*) - count(created_at) FROM {s.pq('orders')}"
    ).fetchall()
    return got, want, {}


def quality_orphans(s: Store, con, rng):
    got = lambda: _rows(quality.orphan_counts(s.df("orders"), s.df("payments"), s.df("refunds")))
    want = lambda: con.execute(
        f"SELECT (SELECT count(*) FROM {s.pq('payments')} p WHERE NOT EXISTS "
        f"(SELECT 1 FROM {s.pq('orders')} o WHERE o.order_id = p.order_id)), "
        f"(SELECT count(*) FROM {s.pq('refunds')} r WHERE r.payment_id IS NOT NULL AND NOT EXISTS "
        f"(SELECT 1 FROM {s.pq('payments')} p WHERE p.payment_id = r.payment_id))"
    ).fetchall()
    return got, want, {}


def quality_late_arrival(s: Store, con, rng):
    got = lambda: _rows(quality.late_arrival_metrics(s.df("orders"), s.df("payments")))
    want = lambda: con.execute(
        f"""
        WITH j AS (SELECT (epoch(p.payment_date) - epoch(o.created_at)) / 86400.0 AS lag
                   FROM {s.pq('orders')} o JOIN {s.pq('payments')} p ON o.order_id = p.order_id)
        SELECT count(*), sum(CASE WHEN lag > 7 THEN 1 ELSE 0 END),
               sum(CASE WHEN lag > 30 THEN 1 ELSE 0 END), round(avg(lag), 2) FROM j
        """
    ).fetchall()
    return got, want, {3: 0.0101}


def quality_revenue_integrity(s: Store, con, rng):
    got = lambda: _rows(quality.revenue_integrity(s.df("payments"), s.df("refunds")))
    want = lambda: con.execute(
        f"""
        WITH p AS (SELECT round(sum(CASE WHEN payment_status = 'success'
                                    THEN payment_amount ELSE 0 END), 2) AS g,
                          sum(CASE WHEN payment_status = 'success' THEN 1 ELSE 0 END) AS ok,
                          count(*) AS n
                   FROM {s.pq('payments')}),
             r AS (SELECT round(coalesce(sum(refund_amount), 0), 2) AS t FROM {s.pq('refunds')})
        SELECT g, t, round(g - t, 2), CASE WHEN n > 0 THEN round(ok / n, 4) END,
               CASE WHEN g > 0 THEN round(t / g, 4) END FROM p, r
        """
    ).fetchall()
    return got, want, {0: MONEY_TOL, 1: MONEY_TOL, 2: 2 * MONEY_TOL, 3: RATE_TOL, 4: RATE_TOL}


def quality_status_breakdown(s: Store, con, rng):
    got = lambda: _rows(quality.breakdown(s.df("payments"), "payment_status"))
    want = lambda: con.execute(
        f"""
        WITH c AS (SELECT payment_status, count(*) AS n FROM {s.pq('payments')} GROUP BY 1)
        SELECT payment_status, n, round(n / sum(n) OVER () * 100, 2) FROM c
        ORDER BY n DESC, payment_status ASC NULLS FIRST
        """
    ).fetchall()
    return got, want, {2: 0.0101}


# name -> (layer the Spark side calls into, or None for plain reads; template)
TEMPLATES = {
    "revenue_by_date": ("plans.gold", revenue_by_date),
    "vendor_success_pct": ("plans.gold", vendor_success_pct),
    "vendor_revenue_range": (None, vendor_revenue_range),
    "order_lookup": (None, order_lookup),
    "revenue_ngn": ("plans.gold", revenue_ngn),
    "quality_completeness": ("plans.quality", quality_completeness),
    "quality_orphans": ("plans.quality", quality_orphans),
    "quality_late_arrival": ("plans.quality", quality_late_arrival),
    "quality_revenue_integrity": ("plans.quality", quality_revenue_integrity),
    "quality_status_breakdown": ("plans.quality", quality_status_breakdown),
}
