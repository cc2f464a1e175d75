"""Unit tests: drift / temporal / hashing expression functions
(reference F1-F10 semantics, SURVEY §2.4)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.drift import (
    canonical_status,
    coalesce_keys,
    json_keys,
    numeric_or_zero,
    safe_divide,
)
from commercepulse_data_pipeline_spark.functions.hashing import (
    event_id,
    stable_bucket,
)
from commercepulse_data_pipeline_spark.functions.temporal import (
    calendar_columns,
    days_between,
    parse_timestamp,
)


def test_coalesce_keys_skip_falsy(spark):
    df = spark.createDataFrame(
        [("", "b1"), ("0", "b2"), (None, "b3"), ("a4", "b4")], ["a", "b"]
    )
    out = df.select(
        coalesce_keys([F.col("a"), F.col("b")], skip_falsy=True).alias("falsy"),
        coalesce_keys([F.col("a"), F.col("b")]).alias("plain"),
    ).collect()
    # Python `or`-chain: '' and '0' are falsy → fall through to b
    assert [r.falsy for r in out] == ["b1", "b2", "b3", "a4"]
    # SQL coalesce: only NULL falls through
    assert [r.plain for r in out] == ["", "0", "b3", "a4"]


def test_json_keys_nested_path(spark):
    df = spark.createDataFrame(
        [('{"order": {"id": "O1"}}',), ('{"order_id": "O2"}',), ("{}",)], ["payload"]
    )
    out = df.select(
        json_keys(F.col("payload"), ["order_id", "order.id"]).alias("k")
    ).collect()
    assert [r.k for r in out] == ["O1", "O2", None]


def test_canonical_status(spark):
    cases = ["FAILED", "fail", "Error", "Success", "successful", "COMPLETED", "paid", "pending"]
    df = spark.createDataFrame([(s,) for s in cases], ["s"])
    out = [r.c for r in df.select(canonical_status(F.col("s")).alias("c")).collect()]
    assert out == ["failed", "failed", "failed", "success", "success", "success", "success", "pending"]


def test_numeric_or_zero_and_safe_divide(spark):
    df = spark.createDataFrame([("12.5",), ("oops",), (None,)], ["x"])
    out = [r.v for r in df.select(numeric_or_zero(F.col("x")).alias("v")).collect()]
    assert out == [12.5, 0.0, 0.0]

    df2 = spark.createDataFrame([(10.0, 4.0), (10.0, 0.0), (10.0, None)], ["n", "d"])
    out2 = [r.q for r in df2.select(safe_divide(F.col("n"), F.col("d")).alias("q")).collect()]
    assert out2 == [2.5, None, None]


def test_parse_timestamp_formats(spark):
    rows = [
        ("2026-02-10T10:00:00Z",),
        ("2026/02/10 11:00:00",),
        ("2026-02-10 12:30",),
        ("1770883200",),  # epoch seconds → 2026-02-12T08:00:00Z
        ("not a date",),
    ]
    df = spark.createDataFrame(rows, ["s"])
    out = [
        r.t
        for r in df.select(
            F.date_format(parse_timestamp(F.col("s")), "yyyy-MM-dd'T'HH:mm:ss").alias("t")
        ).collect()
    ]
    assert out == [
        "2026-02-10T10:00:00",
        "2026-02-10T11:00:00",
        "2026-02-10T12:30:00",
        "2026-02-12T08:00:00",
        None,
    ]


def test_calendar_columns(spark):
    df = spark.createDataFrame([Row(d="2026-02-14")]).select(F.to_date("d").alias("d"))
    cal = calendar_columns(F.col("d"))
    r = df.select(*[v.alias(k) for k, v in cal.items()]).collect()[0]
    assert (r.day_of_week, r.month, r.quarter, r.year) == ("Saturday", 2, 1, 2026)
    assert r.is_weekend is True


def test_days_between_fractional(spark):
    df = spark.createDataFrame([("2026-02-11 12:00:00", "2026-02-10 00:00:00")], ["a", "b"])
    r = df.select(
        days_between(F.to_timestamp("a"), F.to_timestamp("b")).alias("d")
    ).collect()[0]
    assert abs(r.d - 1.5) < 1e-9


def test_hash_identities(spark):
    import hashlib

    df = spark.createDataFrame([("order_created", "O1")], ["t", "k"])
    r = df.select(event_id(F.col("t"), F.col("k")).alias("eid")).collect()[0]
    assert r.eid == hashlib.sha256(b"order_created:O1").hexdigest()


def test_stable_bucket_range(spark):
    df = spark.range(1000).select(stable_bucket(F.col("id").cast("string"), 16).alias("b"))
    r = df.agg(F.min("b").alias("lo"), F.max("b").alias("hi"), F.countDistinct("b").alias("n")).collect()[0]
    assert r.lo >= 0 and r.hi < 16 and r.n == 16


def test_approx_within_tolerance_of_exact(spark):
    """Sketch aggregates (the 100 TB path) must land within their stated
    error of the exact twins."""
    df = spark.range(0, 20000).selectExpr(
        "cast(id % 997 as string) AS k", "cast(id as double) AS v"
    )
    row = df.agg(
        F.approx_count_distinct("k", rsd=0.02).alias("approx_k"),
        F.countDistinct("k").alias("exact_k"),
        F.percentile_approx("v", 0.5, 10000).alias("approx_p50"),
        F.expr("percentile(v, 0.5)").alias("exact_p50"),
    ).collect()[0]
    assert abs(row.approx_k - row.exact_k) / row.exact_k < 0.05
    assert abs(row.approx_p50 - row.exact_p50) / row.exact_p50 < 0.01


def test_ddl_create_if_not_exists(spark, tmp_path):
    """Reference K3 (sql/facts.sql DDL): CREATE TABLE IF NOT EXISTS via
    spark.sql is idempotent; re-issue is a no-op, data survives."""
    loc = str(tmp_path / "fact_tbl")
    ddl = f"""
        CREATE TABLE IF NOT EXISTS fact_ddl_test (
            order_id STRING, amount DOUBLE, order_date DATE
        ) USING parquet LOCATION '{loc}'
    """
    try:
        spark.sql(ddl)
        spark.sql("INSERT INTO fact_ddl_test VALUES ('O1', 10.0, DATE'2026-02-10')")
        spark.sql(ddl)  # idempotent re-create
        assert spark.table("fact_ddl_test").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS fact_ddl_test")


def test_one_slice_df_single_partition_same_rows(spark, tmp_path):
    """one_slice_df (r16): same rows/schema as createDataFrame but in ONE
    partition, so sidecar writes land in one file without the
    slice-per-core coalesce(1) evaluation cost; empty rows and None
    fields keep working (explicit schema, no inference)."""
    from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df

    rows = [(i, [float(i), 2.0], None if i % 2 else f"s{i}") for i in range(8)]
    schema = "a int, b array<double>, c string"
    df = one_slice_df(spark, rows, schema)
    assert df.rdd.getNumPartitions() == 1
    ref = spark.createDataFrame(rows, schema)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()

    # single output file, rows round-trip in order
    out = str(tmp_path / "sidecar")
    df.write.parquet(out)
    import glob

    assert len(glob.glob(f"{out}/part-*")) == 1
    assert sorted(spark.read.parquet(out).collect()) == sorted(ref.collect())

    # empty rows with explicit schema
    empty = one_slice_df(spark, [], schema)
    assert empty.count() == 0 and empty.schema == ref.schema
