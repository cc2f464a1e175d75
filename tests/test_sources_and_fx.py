"""Tests: as-of join, currency normalization (SURVEY Q7 fix), batch
bronze write/read roundtrip with partition pruning, historical JSON
bootstrap envelope synthesis."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.joins import (
    asof_join,
    overlap_join,
    range_join,
)
from commercepulse_data_pipeline_spark.plans.gold import normalize_currency
from commercepulse_data_pipeline_spark.sources.readers import (
    read_bronze,
    read_fx_rates,
    read_historical_json,
    write_bronze,
)


# --------------------------------------------------------------------------
# as-of join
# --------------------------------------------------------------------------

def test_asof_join_backward_with_gaps(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 50.0), ("B", 3, 30.0)], ["sym", "qt", "px"]
    )
    trades = spark.createDataFrame(
        [("A", 0), ("A", 1), ("A", 4), ("A", 7), ("B", 2), ("B", 9)], ["sym", "tt"]
    )
    out = asof_join(trades, quotes, ["sym"], "tt", "qt", ["px"])
    got = {(r.sym, r.tt): r.px for r in out.collect()}
    assert got == {
        ("A", 0): None,   # no quote yet
        ("A", 1): 10.0,   # tie → inclusive backward
        ("A", 4): 10.0,   # gap falls back to latest earlier
        ("A", 7): 50.0,
        ("B", 2): None,
        ("B", 9): 30.0,
    }


def test_asof_join_latest_row_wins_atomically(spark):
    """A NULL field in the most recent right row must stay NULL — not be
    backfilled from an older right row (merge_asof takes the latest row
    wholesale; per-column fills would mix fields across right rows)."""
    quotes = spark.createDataFrame(
        [("A", 1, 10.0, 100.0), ("A", 5, None, 500.0)], ["sym", "qt", "bid", "ask"]
    )
    trades = spark.createDataFrame([("A", 7)], ["sym", "tt"])
    row = asof_join(trades, quotes, ["sym"], "tt", "qt", ["bid", "ask"]).first()
    assert row.bid is None and row.ask == 500.0


def test_asof_join_rejects_column_collision(spark):
    df = spark.createDataFrame([("A", 1, 1.0)], ["sym", "t", "px"])
    with pytest.raises(ValueError, match="collide"):
        asof_join(df, df, ["sym"], "t", "t", ["px"])


# --------------------------------------------------------------------------
# binned range join
# --------------------------------------------------------------------------

def _ts_df(spark, name_ts_cols, rows):
    df = spark.createDataFrame(rows, [c for c, _ in name_ts_cols])
    for c, is_ts in name_ts_cols:
        if is_ts:
            df = df.withColumn(c, F.to_timestamp(c))
    return df


def test_range_join_boundaries_and_multibin(spark):
    # interval spans 3 bins at bin_seconds=60 — each matching pair must
    # still appear exactly once (pairs meet only in the point's bin).
    intervals = _ts_df(
        spark,
        [("iid", False), ("s", True), ("e", True)],
        [(1, "2026-01-01 10:00:30", "2026-01-01 10:02:30")],
    )
    points = _ts_df(
        spark,
        [("pid", False), ("pt", True)],
        [
            (1, "2026-01-01 10:00:29"),  # before start — out
            (2, "2026-01-01 10:00:30"),  # == start — in (inclusive)
            (3, "2026-01-01 10:01:30"),  # middle bin — in
            (4, "2026-01-01 10:02:30"),  # == end — out (half-open)
            (5, "2026-01-01 10:02:29"),  # last bin — in
        ],
    )
    got = sorted(
        r.pid for r in range_join(points, intervals, "pt", "s", "e", bin_seconds=60).collect()
    )
    assert got == [2, 3, 5]


def test_range_join_keyed_and_clash(spark):
    intervals = _ts_df(
        spark,
        [("k", False), ("iid", False), ("s", True), ("e", True)],
        [
            ("a", 1, "2026-01-01 10:00:00", "2026-01-01 11:00:00"),
            ("b", 2, "2026-01-01 10:00:00", "2026-01-01 11:00:00"),
        ],
    )
    points = _ts_df(
        spark,
        [("k", False), ("pid", False), ("pt", True)],
        [("a", 10, "2026-01-01 10:30:00"), ("c", 11, "2026-01-01 10:30:00")],
    )
    # a keyed join is the binned join plus a key predicate on renamed keys
    out = (
        range_join(
            points, intervals.withColumnRenamed("k", "ik"), "pt", "s", "e", bin_seconds=3600
        )
        .where("k = ik")
        .collect()
    )
    assert [(r.pid, r.iid) for r in out] == [(10, 1)]
    with pytest.raises(ValueError, match="clash"):
        range_join(points, intervals, "pt", "s", "e", bin_seconds=3600)
    with pytest.raises(ValueError, match="clash"):
        range_join(points, points.withColumnRenamed("pid", "qid"), "pt", "pt", "qt", bin_seconds=60)


def test_range_join_plan_is_equi_join(spark):
    """The point of the operator: the physical plan must be an equi-join
    on the bin, never a nested-loop/cartesian pairing."""
    intervals = _ts_df(
        spark,
        [("iid", False), ("s", True), ("e", True)],
        [(1, "2026-01-01 10:00:00", "2026-01-01 10:10:00")],
    )
    points = _ts_df(spark, [("pid", False), ("pt", True)], [(1, "2026-01-01 10:05:00")])
    plan = range_join(
        points, intervals, "pt", "s", "e", bin_seconds=600
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_overlap_join_pairs_once_across_shared_bins(spark):
    # two long intervals share MANY bins at bin_seconds=60 — the
    # meet-at-overlap-start rule must emit the pair exactly once; the
    # half-open convention makes touching intervals NOT overlap.
    left = _ts_df(
        spark,
        [("lid", False), ("ls", True), ("le", True)],
        [
            (1, "2026-01-01 10:00:00", "2026-01-01 10:10:00"),
            (2, "2026-01-01 09:00:00", "2026-01-01 09:30:00"),
        ],
    )
    right = _ts_df(
        spark,
        [("rid", False), ("rs", True), ("re", True)],
        [
            (1, "2026-01-01 10:05:00", "2026-01-01 10:20:00"),  # overlaps lid=1
            (2, "2026-01-01 10:10:00", "2026-01-01 10:15:00"),  # touches lid=1 end — no
            (3, "2026-01-01 09:59:00", "2026-01-01 10:30:00"),  # contains lid=1
        ],
    )
    got = sorted(
        (r.lid, r.rid)
        for r in overlap_join(left, right, "ls", "le", "rs", "re", bin_seconds=60).collect()
    )
    assert got == [(1, 1), (1, 3)]


def test_overlap_join_matches_bruteforce(spark):
    import itertools

    rows = [(i, s, s + ln) for i, (s, ln) in enumerate([(0, 50), (30, 10), (45, 200), (100, 1), (99, 2), (300, 60)])]
    mk = lambda cols: spark.createDataFrame(rows, f"{cols[0]} long, s_e long, e_e long").select(
        cols[0],
        F.timestamp_seconds("s_e").alias(cols[1]),
        F.timestamp_seconds("e_e").alias(cols[2]),
    )
    left, right = mk(["lid", "ls", "le"]), mk(["rid", "rs", "re"])
    for bs in (1, 7, 60):
        got = {
            (r.lid, r.rid)
            for r in overlap_join(left, right, "ls", "le", "rs", "re", bin_seconds=bs).collect()
        }
        expected = {
            (a, b)
            for (a, sa, ea), (b, sb, eb) in itertools.product(rows, rows)
            if sa < eb and sb < ea
        }
        assert got == expected, bs


# --------------------------------------------------------------------------
# currency normalization (Q7 fix)
# --------------------------------------------------------------------------

@pytest.fixture()
def fx_csv(spark, tmp_path):
    p = tmp_path / "fx_rates.csv"
    p.write_text(
        "date,USDNGN\n"
        "2026-02-09,1500.0\n"
        "2026-02-11,1520.0\n"  # note: 02-10 missing (gap day)
    )
    return read_fx_rates(spark, str(p))


def test_normalize_currency_asof_and_passthrough(spark, fx_csv):
    facts = spark.createDataFrame(
        [
            ("o1", 100.0, "2026-02-10", "USD"),   # gap day → 02-09 rate
            ("o2", 200.0, "2026-02-11", "usd"),   # case-insensitive
            ("o3", 5000.0, "2026-02-11", "NGN"),  # already base → unchanged
            ("o4", 300.0, "2026-02-11", None),    # NULL currency → assume base
        ],
        ["order_id", "amount", "d", "currency"],
    ).select("order_id", "amount", F.to_date("d").alias("order_date"), "currency")
    out = {r.order_id: r for r in normalize_currency(
        facts, fx_csv, amount_col="amount", date_col="order_date"
    ).collect()}
    assert out["o1"].amount_ngn == 150000.0 and out["o1"].fx_rate_applied == 1500.0
    assert out["o2"].amount_ngn == 304000.0
    assert out["o3"].amount_ngn == 5000.0 and out["o3"].fx_rate_applied is None
    assert out["o4"].amount_ngn == 300.0


def test_normalize_currency_plan_is_broadcast_no_global_window(spark, fx_csv):
    """Scale regression (VERDICT r1 #6): the fact side must join a
    broadcast forward-filled calendar — not funnel through a keyless
    single-partition window."""
    facts = (
        spark.range(1000)
        .select(
            F.col("id").cast("string").alias("order_id"),
            (F.col("id") * 1.0).alias("amount"),
            F.date_add(F.lit("2026-02-09").cast("date"), (F.col("id") % 5).cast("int")).alias("order_date"),
            F.when(F.col("id") % 7 == 0, "USD").otherwise("NGN").alias("currency"),
        )
    )
    out = normalize_currency(facts, fx_csv, amount_col="amount", date_col="order_date")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only Window allowed is the one over the tiny calendar (below the
    # broadcast exchange), never over the fact scan side
    fact_side = plan.split("BroadcastExchange")[0]
    assert "Window" not in fact_side


# --------------------------------------------------------------------------
# batch bronze sink/scan (K1 semantics + partition pruning)
# --------------------------------------------------------------------------

def test_bronze_roundtrip_partition_pruning(spark, bronze_events, tmp_path):
    path = str(tmp_path / "bronze")
    write_bronze(bronze_events, path, mode="overwrite")
    back = read_bronze(spark, path)
    assert back.count() == bronze_events.count()
    # the sink's layout lets event-type and partition filters reach the scan
    pruned = spark.read.parquet(path).where(
        (F.col("event_type") == "order_created") & (F.col("ingest_date") == "2026-02-20")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ingest_date" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:200]


def test_historical_json_bootstrap_envelope(spark, tmp_path):
    """Reference S1 (src/bootstrap_loader.py:84-99): JSON array file →
    envelope with natural key, event time, vendor + deterministic id."""
    records = [
        {"order_id": "O1", "created_at": "2023-05-01T10:00:00Z", "vendor": "vendor_b", "total": 10},
        {"order_id": "O2", "created_at": "2023-05-02T10:00:00Z", "vendor": "vendor_a", "total": 20},
        {"note": "no ids at all"},
    ]
    p = tmp_path / "historical_orders.json"
    p.write_text(json.dumps(records))
    env = read_historical_json(spark, str(p), "historical_order")
    rows = env.collect()
    assert len(rows) == 3
    assert all(r.event_type == "historical_order" for r in rows)
    assert all(r.event_id is not None and len(r.event_id) == 64 for r in rows)  # sha-256 hex
    by_key = {json.loads(r.payload).get("order_id"): r for r in rows}
    assert by_key["O1"].vendor == "vendor_b"
    assert by_key["O1"].event_time == "2023-05-01T10:00:00Z"
    assert by_key[None].vendor == "unknown"
    # determinism: same input → same event ids (idempotent replays collapse)
    env2 = read_historical_json(spark, str(p), "historical_order")
    assert {r.event_id for r in rows} == {r.event_id for r in env2.collect()}


def test_bronze_merge_schema_survives_added_column(spark, tmp_path):
    """Parquet-level schema evolution: a column added by a later vendor
    day is visible (NULL-padded for old days) with merge_schema=True —
    without it, Spark's sampled-footer inference can drop it silently."""
    from pyspark.sql import functions as F  # noqa: F811

    from commercepulse_data_pipeline_spark.sources.readers import read_bronze

    p = str(tmp_path / "bronze")
    spark.createDataFrame(
        [("e1", "order_created")], "event_id string, event_type string"
    ).write.parquet(p + "/ingest_date=2026-01-01")
    spark.createDataFrame(
        [("e2", "order_created", "mobile")],
        "event_id string, event_type string, channel string",
    ).write.parquet(p + "/ingest_date=2026-01-02")

    out = read_bronze(spark, p, merge_schema=True)
    assert "channel" in out.columns
    rows = {r["event_id"]: r for r in out.collect()}
    assert rows["e2"]["channel"] == "mobile"
    assert rows["e1"]["channel"] is None
    assert out.where(F.col("event_type") == "order_created").count() == 2
