"""Output checks. DuckDB replays read the parquet the program wrote, so a
check never trusts the engine it is checking."""

from __future__ import annotations

import os

import duckdb

# Money columns are rounded sums of doubles; Spark and DuckDB (and a fold
# versus a batch build) add them in different orders, which can move the
# second decimal by one unit at a rounding boundary.
MONEY_TOL = 0.0101
RATE_TOL = 1.01e-4

GOLD_COLS = (
    "order_date", "vendor", "gross_revenue", "total_refunds", "net_revenue",
    "order_count", "paid_count", "payment_success_rate", "refund_rate",
)
_GOLD_TOL = {
    "gross_revenue": MONEY_TOL, "total_refunds": MONEY_TOL,
    "net_revenue": 2 * MONEY_TOL,
    "payment_success_rate": RATE_TOL, "refund_rate": RATE_TOL,
}


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


def pq(path: str) -> str:
    """A DuckDB parquet scan over every file Spark wrote under ``path``."""
    return f"read_parquet('{os.path.join(path, '**', '*.parquet')}', hive_partitioning = true)"


def rows_equal(got: list[tuple], want: list[tuple], tol: dict[int, float]) -> bool:
    """Same rows in the same order; columns named in ``tol`` compare within
    an absolute tolerance, NULL only equal to NULL."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for i, (a, b) in enumerate(zip(g, w)):
            if a is None or b is None:
                if a is not b:
                    return False
            elif i in tol:
                if abs(float(a) - float(b)) > tol[i]:
                    return False
            elif a != b:
                return False
    return True


def _gold_tol() -> dict[int, float]:
    return {i: _GOLD_TOL[c] for i, c in enumerate(GOLD_COLS) if c in _GOLD_TOL}


def gold_rows(rows) -> list[tuple]:
    """Spark ``Row``s of fact_order_daily as sorted comparable tuples."""
    return sorted(
        (tuple(r[c] for c in GOLD_COLS) for r in rows),
        key=lambda t: (t[0], t[1]),
    )


def gold_equal(got: list[tuple], want: list[tuple]) -> bool:
    return rows_equal(got, want, _gold_tol())


def replay_gold(con, silver_dir: str) -> list[tuple]:
    """fact_order_daily from the silver parquet, in SQL: per-order payment
    and refund rollups first, then the (order_date, vendor) rollup."""
    o, p, r = (pq(os.path.join(silver_dir, t)) for t in ("orders", "payments", "refunds"))
    return con.execute(
        f"""
        WITH pay AS (
            SELECT order_id, sum(payment_amount) AS pay_all,
                   sum(CASE WHEN payment_status = 'success' THEN 1 ELSE 0 END) AS n_ok
            FROM {p} GROUP BY order_id),
        ref AS (SELECT order_id, sum(refund_amount) AS refund_amount FROM {r} GROUP BY order_id),
        j AS (
            SELECT o.order_date, o.vendor, pay.pay_all, pay.n_ok, ref.refund_amount
            FROM {o} o LEFT JOIN pay ON o.order_id = pay.order_id
                       LEFT JOIN ref ON o.order_id = ref.order_id
            WHERE o.order_date IS NOT NULL),
        d AS (
            SELECT order_date, vendor,
                   round(coalesce(sum(pay_all), 0), 2) AS gross,
                   round(coalesce(sum(refund_amount), 0), 2) AS refunds,
                   count(*) AS order_count,
                   sum(CASE WHEN n_ok > 0 THEN 1 ELSE 0 END) AS paid_count
            FROM j GROUP BY order_date, vendor)
        SELECT order_date, vendor, gross, refunds, round(gross - refunds, 2),
               order_count, paid_count,
               CASE WHEN order_count > 0 THEN round(paid_count / order_count, 4) END,
               CASE WHEN gross > 0 THEN round(refunds / gross, 4) END
        FROM d ORDER BY order_date, vendor
        """
    ).fetchall()


def read_gold(con, gold_dir: str) -> list[tuple]:
    cols = ", ".join(GOLD_COLS)
    return con.execute(
        f"SELECT {cols} FROM {pq(gold_dir)} ORDER BY order_date, vendor"
    ).fetchall()


def distinct_event_ids(con, bronze_dir: str) -> int:
    return con.execute(f"SELECT count(DISTINCT event_id) FROM {pq(bronze_dir)}").fetchone()[0]
