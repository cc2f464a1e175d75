"""Dimension builds (reference src/populate_dimensions.py:17-85).

dim_date is generated entirely JVM-side with ``sequence`` + ``explode``
(reference S5: ``pd.date_range``) — no driver loop, no UDF. dim_customer
is a groupBy-min over fact_orders (reference A2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.temporal import calendar_columns


def build_dim_date(spark: SparkSession) -> DataFrame:
    """Calendar dimension, one row per day of 2023-01-01..2026-12-31
    (reference src/populate_dimensions.py:19-29; 1,461 rows)."""
    days = spark.sql(
        "SELECT explode(sequence(to_date('2023-01-01'), to_date('2026-12-31'), interval 1 day))"
        " AS date_key"
    )
    cal = calendar_columns(F.col("date_key"))
    return days.select("date_key", *[expr.alias(name) for name, expr in cal.items()])


def build_dim_customer(fact_orders: DataFrame) -> DataFrame:
    """First-seen date per customer (reference
    src/populate_dimensions.py:44-60): groupBy customer_id, min(created_at);
    NULL customer ids excluded (reference :50)."""
    return (
        fact_orders.where(F.col("customer_id").isNotNull())
        .groupBy("customer_id")
        .agg(F.min("created_at").alias("created_at"))
        .select(
            "customer_id",
            "created_at",
            F.lit(None).cast("string").alias("customer_name"),
            F.lit(None).cast("string").alias("email"),
            F.lit(None).cast("string").alias("country"),
        )
    )


def build_dim_product(spark: SparkSession) -> DataFrame:
    """Placeholder single-row product dim (reference
    src/populate_dimensions.py:63-85)."""
    return spark.createDataFrame(
        [("PROD-PLACEHOLDER", "Placeholder Product", "general", "unknown", 0.0)],
        "product_id string, product_name string, category string, vendor_id string, unit_price double",
    )
