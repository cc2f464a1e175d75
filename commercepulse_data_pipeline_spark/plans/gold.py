"""Gold layer: fact_order_daily — THE core aggregate (reference A1,
src/transformer.py:130-165).

The reference computes this with a Python loop over pandas groups, each
group re-scanning the FULL payments and refunds frames via ``isin`` —
O(groups × payments) (SURVEY §3.1 step 4). Here it is the canonical
distributed shape:

1. pre-aggregate payments per order_id  (map-side partial agg → shuffle
   on order_id)
2. pre-aggregate refunds per order_id
3. orders ⋈ per-order payment/refund rollups (equi-join on order_id — AQE
   picks broadcast when a side is small)
4. groupBy(order_date, vendor) final rollup

Pre-aggregating BEFORE the join is the correctness point (SURVEY §7.3):
joining raw payments first would fan out order rows and double-count
``order_count``. It's also the scale point: the join carries one row per
order, not one per payment.

Quirk handling (SURVEY §1.4):
- Q3: the daily fact's gross counts every matched payment, even failed;
  the success-only definition lives in the quality report
  (``plans/quality.py``).
- Q4: payment_success_rate = successful payments ÷ order count (the daily
  fact definition), NULL on zero denominator.
- Q5: pandas groupby drops NULL keys; we filter NULL order_date
  explicitly so the behavior is declared, not accidental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.drift import safe_divide


def build_fact_order_daily(
    orders: DataFrame,
    payments: DataFrame,
    refunds: DataFrame,
    *,
    paid_count_per_payment: bool = False,
) -> DataFrame:
    """Daily per-vendor revenue rollup (reference src/transformer.py:130-165).

    Gross revenue is the daily-fact definition (Q3: failed payments
    included).

    ``paid_count_per_payment=True`` is the reference's exact paid_count
    (number of successful PAYMENTS in the group, src/transformer.py:142 —
    can exceed order_count, so payment_success_rate can exceed 1.0); the
    default counts ORDERS with at least one successful payment (the fixed
    semantic our oracle queries use).
    """
    pay_per_order = payments.groupBy("order_id").agg(
        F.sum("payment_amount").alias("pay_amount_all"),
        F.sum(F.when(F.col("payment_status") == "success", 1).otherwise(0)).alias("n_success_payments"),
    )
    ref_per_order = refunds.groupBy("order_id").agg(
        F.sum("refund_amount").alias("refund_amount"),
    )
    joined = (
        orders.where(F.col("order_date").isNotNull())  # Q5 made explicit
        .select("order_id", "order_date", "vendor")
        .join(pay_per_order, "order_id", "left")
        .join(ref_per_order, "order_id", "left")
    )
    daily = joined.groupBy("order_date", "vendor").agg(
        F.round(F.coalesce(F.sum("pay_amount_all"), F.lit(0.0)), 2).alias("gross_revenue"),
        F.round(F.coalesce(F.sum("refund_amount"), F.lit(0.0)), 2).alias("total_refunds"),
        F.count(F.lit(1)).alias("order_count"),
        (
            F.sum(F.coalesce(F.col("n_success_payments"), F.lit(0)))
            if paid_count_per_payment
            else F.sum(F.when(F.col("n_success_payments") > 0, 1).otherwise(0))
        ).alias("paid_count"),
    )
    return daily.select(
        "order_date",
        "vendor",
        "gross_revenue",
        "total_refunds",
        F.round(F.col("gross_revenue") - F.col("total_refunds"), 2).alias("net_revenue"),
        "order_count",
        "paid_count",
        # Q4: daily-fact definition — successful payments ÷ orders
        safe_divide(F.col("paid_count"), F.col("order_count")).alias("payment_success_rate"),
        safe_divide(F.col("total_refunds"), F.col("gross_revenue")).alias("refund_rate"),
    )


def revenue_by_date(fact_order_daily: DataFrame) -> DataFrame:
    """README analytics query 1 (reference README.md:90-95)."""
    return fact_order_daily.groupBy("order_date").agg(
        F.round(F.sum("gross_revenue"), 2).alias("gross_revenue"),
        F.round(F.sum("net_revenue"), 2).alias("net_revenue"),
    )


def vendor_success_pct(fact_order_daily: DataFrame) -> DataFrame:
    """README analytics query 2 (reference README.md:97-102)."""
    return fact_order_daily.groupBy("vendor").agg(
        F.round(F.avg("payment_success_rate") * 100, 4).alias("success_pct")
    )


def normalize_currency(
    facts: DataFrame,
    fx_rates: DataFrame,
    *,
    amount_col: str,
    date_col: str,
) -> DataFrame:
    """Q7 fix (SURVEY §1.4): the reference ships daily USDNGN rates
    (data/fx_rates_2023.csv) but never reads them — all revenue sums mix
    USD and NGN. Here USD amounts convert to NGN (a NULL ``currency``
    counts as NGN) using the rate in effect on the fact's date (backward as-of semantics, so gap
    days fall back to the latest earlier rate).

    ``fx_rates`` is the ``sources.readers.read_fx_rates`` shape
    (fx_date, usd_ngn).

    Scale shape: rates are DAILY, so the as-of is precomputable — forward
    -fill the tiny rate table onto a complete calendar (a window over a
    few thousand calendar rows, driver-trivial), then BROADCAST equi-join
    on the fact date. The facts never shuffle and there is no global
    window; the only fact-side work is one column-pruned max(date) pass
    to bound the calendar (pass a keyed as-of via ``operators.joins.
    asof_join`` instead when the right side is not densifiable).
    """
    from pyspark.sql import Window

    fact_date = F.to_date(F.col(date_col))
    bounds = fx_rates.agg(
        F.min("fx_date").alias("lo"), F.max("fx_date").alias("hi")
    ).first()
    out_amount = f"{amount_col}_ngn"
    if bounds["lo"] is None:  # no rates at all → everything passes through
        return facts.withColumn(
            out_amount, _dec_round2(F.col(amount_col))
        ).withColumn("fx_rate_applied", F.lit(None).cast("double"))
    fact_hi = facts.agg(F.max(fact_date).alias("hi")).first()["hi"]
    hi = max(d for d in (bounds["hi"], fact_hi) if d is not None)
    calendar = facts.sparkSession.sql(
        f"SELECT explode(sequence(DATE'{bounds['lo']}', DATE'{hi}', interval 1 day)) AS fx_date"
    )
    # Collapse to ONE rate per date before densifying (ADVICE r2): a
    # duplicate fx_date row would otherwise duplicate every fact on that
    # date through the equi-join — the old as-of union/window shape could
    # never multiply left rows, so this guard keeps that invariant.
    fx_rates = fx_rates.groupBy("fx_date").agg(F.max("usd_ngn").alias("usd_ngn"))
    ff = Window.orderBy("fx_date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily_rates = calendar.join(fx_rates, "fx_date", "left").select(
        "fx_date", F.last("usd_ngn", ignorenulls=True).over(ff).alias("usd_ngn")
    )
    with_rate = facts.withColumn("__fx_date", fact_date).join(
        F.broadcast(daily_rates.withColumnRenamed("fx_date", "__fx_date")),
        "__fx_date",
        "left",
    )
    cur = F.upper(F.coalesce(F.col("currency"), F.lit("NGN")))
    converted = F.when(
        (cur == "USD") & F.col("usd_ngn").isNotNull(),
        F.col(amount_col) * F.col("usd_ngn"),
    ).otherwise(F.col(amount_col))
    return (
        with_rate.withColumn(out_amount, _dec_round2(converted))
        .withColumn("fx_rate_applied", F.when(cur == "USD", F.col("usd_ngn")))
        .drop("usd_ngn", "__fx_date")
    )


def _dec_round2(col: F.Column) -> F.Column:
    """Row-level 2-decimal round through DECIMAL space (DECISIONS.md
    decimal-determinism rule): round(double, 2) directly would depend on
    the engine's double-rounding implementation at representability
    boundaries; double → decimal(30,8) → round(2) replays identically in
    the DuckDB oracle (same IEEE product, same decimal quantization)."""
    return F.round(col.cast("decimal(30,8)"), 2).cast("double")
