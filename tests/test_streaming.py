"""Structured Streaming tests (SURVEY §2.10): file-source stream over the
daily JSONL landing layout, dedup-within-watermark, daily tumbling
aggregation, exactly-once bronze sink via checkpointing.

All runs use trigger(availableNow=True) so they are bounded and
deterministic under test.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.streaming.ingest import (
    daily_counts,
    dedup_within_watermark,
    read_event_stream,
    write_bronze_stream,
)
from tests.conftest import fixture_events


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory) -> str:
    """Daily landing layout: one dir per ingest day, duplicates included
    (the raw pre-dedup stream — the conftest jsonl fixture's shape)."""
    root = tmp_path_factory.mktemp("stream_landing")
    events = fixture_events()
    by_day: dict[str, list[dict]] = {}
    for e in events:
        day = e["ingested_at"][:10]
        by_day.setdefault(day, []).append(e)
    for day, evs in by_day.items():
        d = root / day
        d.mkdir()
        (d / "events.jsonl").write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    return str(root)


def _run_to_memory(stream_df, name: str, output_mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_dedup_within_watermark(spark, landing_dir):
    stream = read_event_stream(spark, f"{landing_dir}/*/events.jsonl")
    deduped = dedup_within_watermark(stream, watermark="7 days")
    _run_to_memory(deduped, "dedup_sink", "append")
    out = spark.sql("SELECT event_id FROM dedup_sink")
    # the exact duplicate (same event_id, later ingested_at) collapsed
    assert out.count() == out.distinct().count() == 15


def test_stream_daily_counts(spark, landing_dir):
    stream = read_event_stream(spark, f"{landing_dir}/*/events.jsonl")
    counts = daily_counts(stream, watermark="7 days")
    _run_to_memory(counts, "daily_sink", "complete")
    rows = {
        (str(r.event_date), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM daily_sink").collect()
    }
    # fixture: 2 order events on 2026-02-10 (ord-b-1, ord-a-1); the raw
    # stream still carries the duplicate, so 2026-02-11 order_updated = 2
    assert rows[("2026-02-10", "order_created")] == 2
    assert rows[("2026-02-11", "order_updated")] == 2
    assert rows[("2026-02-13", "refund_issued")] == 2


def test_stream_bronze_sink_exactly_once(spark, landing_dir, tmp_path):
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    stream = dedup_within_watermark(
        read_event_stream(spark, f"{landing_dir}/*/events.jsonl")
    )
    q = write_bronze_stream(stream, bronze, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(bronze).count()
    assert first == 15
    # re-run with the SAME checkpoint: no new source files → no new rows
    q2 = write_bronze_stream(
        dedup_within_watermark(read_event_stream(spark, f"{landing_dir}/*/events.jsonl")),
        bronze,
        ckpt,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(bronze).count() == first
    # partitioned by INGESTION date (same layout as batch write_bronze —
    # ingested_at-derived, not event time): fixture events land on their
    # ingested_at days, not their event days
    back = spark.read.parquet(bronze)
    days = {str(r.ingest_date) for r in back.select("ingest_date").distinct().collect()}
    assert days <= {"2026-02-20", "2026-02-21"} and "2026-02-20" in days
    one_day = back.where(F.col("ingest_date") == "2026-02-20")
    # ≤: the 02-21 duplicate collapses to whichever copy the dedup kept
    assert 0 < one_day.count() <= first


def test_current_order_state_stateful_upsert(spark, tmp_path):
    """applyInPandasWithState: state carries across micro-batches; a later
    batch's OLDER event must not overwrite newer state (D1 semantics)."""
    from commercepulse_data_pipeline_spark.streaming.state import current_order_state

    d1, d2 = tmp_path / "b1", tmp_path / "b2"
    d1.mkdir(); d2.mkdir()
    (d1 / "events.jsonl").write_text("\n".join([
        json.dumps({"order_id": "O1", "event_time": "2026-02-10T10:00:00Z",
                    "order_status": "pending", "order_amount": 100.0}),
        json.dumps({"order_id": "O2", "event_time": "2026-02-10T11:00:00Z",
                    "order_status": "pending", "order_amount": 50.0}),
    ]) + "\n")
    (d2 / "events.jsonl").write_text("\n".join([
        # newer event for O1 → state advances
        json.dumps({"order_id": "O1", "event_time": "2026-02-11T09:00:00Z",
                    "order_status": "confirmed", "order_amount": 100.0}),
        # OUT-OF-ORDER older event for O2 → must NOT overwrite
        json.dumps({"order_id": "O2", "event_time": "2026-02-09T00:00:00Z",
                    "order_status": "created", "order_amount": 49.0}),
        # NULL event time → never wins, still counted
        json.dumps({"order_id": "O2", "event_time": None,
                    "order_status": "ghost", "order_amount": 0.0}),
    ]) + "\n")

    schema = ("order_id string, event_time string, order_status string, "
              "order_amount double")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batches
        .json(str(tmp_path) + "/*/events.jsonl")
        .withColumn("event_ts", F.to_timestamp("event_time"))
    )
    out = current_order_state(stream)
    q = (
        out.writeStream.format("memory").queryName("order_state")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM order_state ORDER BY updated_at_us"
    ).collect()
    # last emitted row per key = final state
    final = {}
    for r in rows:
        if r.n_events >= final.get(r.order_id, (0,))[0]:
            final[r.order_id] = (r.n_events, r)
    o1 = final["O1"][1]
    assert o1.order_status == "confirmed" and o1.n_events == 2
    o2 = final["O2"][1]
    assert o2.order_status == "pending"      # out-of-order event ignored
    assert o2.order_amount == 50.0
    assert o2.n_events == 3                  # but all events counted


def test_stream_session_windows(spark, landing_dir):
    from commercepulse_data_pipeline_spark.streaming.ingest import session_counts

    stream = read_event_stream(spark, f"{landing_dir}/*/events.jsonl")
    q = (
        session_counts(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory").queryName("session_sink")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM session_sink").collect()
    assert rows and all(r.n_events >= 1 for r in rows)
    assert all(r.session_end > r.session_start for r in rows)


def test_stream_late_arrival_counts(spark, landing_dir):
    from commercepulse_data_pipeline_spark.streaming.ingest import late_arrival_counts

    stream = read_event_stream(spark, f"{landing_dir}/*/events.jsonl")
    q = (
        late_arrival_counts(stream, threshold_days=1.0, watermark="30 days")
        .writeStream.format("memory").queryName("late_sink")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {str(r.event_date): r for r in spark.sql("SELECT * FROM late_sink").collect()}
    # fixture pay-6: event_time 2026-02-13, ingested 2026-02-20 → 7 days late
    assert rows["2026-02-13"].late_events >= 1
    assert rows["2026-02-13"].max_lag_days >= 6.9
    # totals match the raw stream (nothing dropped at this watermark):
    # 16 envelope lines incl. the duplicate replay
    assert sum(r.n_events for r in rows.values()) == 16


def test_dedup_state_bounded_with_rocksdb_eviction(spark, tmp_path):
    """The bounded-state claim, demonstrated (VERDICT r1 #8): under the
    RocksDB state store, dedup_within_watermark must EVICT keys older
    than the watermark as it advances — state at the end holds roughly
    one day's keys, not every key ever seen."""
    from commercepulse_data_pipeline_spark.session import ROCKSDB_STATE_CONF

    n_days, per_day = 3, 300
    for d in range(n_days):
        day = f"2026-03-{10 + d:02d}"
        p = tmp_path / day
        p.mkdir()
        (p / "events.jsonl").write_text("\n".join(
            json.dumps({
                "event_id": f"e-{day}-{i}",
                "event_type": "order_created",
                "event_time": f"{day}T{i % 24:02d}:{i % 60:02d}:00Z",
                "vendor": "vendor_b",
                "payload": "{}",
                "ingested_at": f"{day}T23:59:59Z",
                "source": "t",
            }) for i in range(per_day)
        ) + "\n")

    prev = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF}
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        stream = read_event_stream(
            spark, str(tmp_path) + "/*/events.jsonl", max_files_per_trigger=1
        )
        deduped = dedup_within_watermark(stream, watermark="1 hour")
        q = (
            deduped.writeStream.format("memory").queryName("rocksdb_dedup")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        assert spark.sql("SELECT count(*) FROM rocksdb_dedup").first()[0] == n_days * per_day
        states = [p["stateOperators"][0] for p in q.recentProgress if p["stateOperators"]]
        assert states, "no state operator metrics reported"
        final_rows = states[-1]["numRowsTotal"]
        removed = sum(s.get("numRowsRemoved", 0) for s in states)
        # eviction happened and end-state is bounded by ~one day of keys,
        # not the full 3-day history
        assert removed > 0
        assert final_rows <= per_day
        assert "RocksDB" in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.slow
def test_stream_stream_join_payments_to_orders(spark, landing_dir):
    """Stream-stream inner join with an event-time range bound: payments
    match their order iff within 1 day of the order creation. The orphan
    payment (no order) and the out-of-range duplicate-payment event are
    both excluded; the drift-coalesced order id matches all 3 vendor
    dialects."""
    from commercepulse_data_pipeline_spark.streaming.ingest import (
        join_payments_to_orders_stream,
    )

    stream = read_event_stream(spark, f"{landing_dir}/*/events.jsonl")
    joined = join_payments_to_orders_stream(stream, within="1 day")
    _run_to_memory(joined, "ss_join_sink", "append")
    rows = {r.payment_event_id: r for r in spark.sql("SELECT * FROM ss_join_sink").collect()}
    assert set(rows) == {"pay-1", "pay-2", "pay-3", "pay-6"}
    assert rows["pay-1"].order_id == "O1" and rows["pay-1"].amount == 1000.0
    assert rows["pay-3"].order_id == "O3" and rows["pay-3"].amount == 250.0
    # pay-4 (orphan O-GHOST) and pay-5 (2 days after O1's creation, outside
    # the 1-day range) are excluded by the join itself


@pytest.mark.slow
def test_streaming_gold_upsert_converges_to_batch(spark, landing_dir, tmp_path):
    """foreachBatch IVM of fact_order_daily (SURVEY §3.1 restated as
    streaming; the reference names this as its limitation,
    README.md:207): after consuming the landing stream one file per
    micro-batch, {store}/gold equals the batch build_fact_order_daily
    over the same events — and replaying the whole stream (fresh
    checkpoint, same store) changes nothing (at-least-once idempotent)."""
    import os

    from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily
    from commercepulse_data_pipeline_spark.plans.silver import (
        normalize_orders,
        normalize_payments,
        normalize_refunds,
    )
    from commercepulse_data_pipeline_spark.sources.readers import ENVELOPE_SCHEMA
    from commercepulse_data_pipeline_spark.streaming.gold_upsert import (
        maintain_gold_daily_stream,
    )

    n_days = len([d for d in os.listdir(landing_dir) if not d.startswith("_")])
    assert n_days >= 2  # one micro-batch per file ⇒ a genuinely incremental run

    store = str(tmp_path / "gold_store")
    stream = read_event_stream(spark, f"{landing_dir}/*/events.jsonl", max_files_per_trigger=1)
    q = maintain_gold_daily_stream(stream, store, str(tmp_path / "ckpt1"))
    q.awaitTermination(180)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    batch_events = (
        spark.read.schema(ENVELOPE_SCHEMA)
        .json(f"{landing_dir}/*/events.jsonl")
        .where(F.col("event_id").isNotNull())
    )
    expect = build_fact_order_daily(
        normalize_orders(batch_events),
        normalize_payments(batch_events),
        normalize_refunds(batch_events),
    )
    got = spark.read.parquet(f"{store}/gold").select(*expect.columns)
    assert rows_of(got) == rows_of(expect)
    assert got.count() > 0

    # full replay with a fresh checkpoint: same store state afterwards
    q2 = maintain_gold_daily_stream(
        read_event_stream(spark, f"{landing_dir}/*/events.jsonl", max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(180)
    got2 = spark.read.parquet(f"{store}/gold").select(*expect.columns)
    assert rows_of(got2) == rows_of(expect)


def test_stream_stream_join_replayed_order_no_fanout(spark, tmp_path):
    """An at-least-once REPLAY of an order_created (same event_id, and a
    second replica arriving in a later file) must not fan the matching
    payment into multiple join rows: both join sides dedup within the
    watermark before joining (batch path parity — LWW runs first there)."""
    import json as _json

    from commercepulse_data_pipeline_spark.streaming.ingest import (
        join_payments_to_orders_stream,
    )
    from tests.conftest import _env

    order = _env("ord-r-1", "order_created", "2026-02-10T10:00:00Z", "vendor_b",
                 {"order_id": "O9", "customerId": "C9", "totalAmount": 70.0,
                  "state": "pending", "created_at": "2026-02-10T10:00:00Z"})
    pay = _env("pay-r-1", "payment_received", "2026-02-10T12:00:00Z", "vendor_b",
               {"payment_id": "P9", "order_id": "O9", "amount": 70.0,
                "payment_status": "success"})
    d1 = tmp_path / "2026-02-10"; d1.mkdir()
    d2 = tmp_path / "2026-02-11"; d2.mkdir()
    (d1 / "events.jsonl").write_text(
        "\n".join(_json.dumps(e) for e in (order, order, pay)) + "\n"
    )
    (d2 / "events.jsonl").write_text(_json.dumps(order) + "\n")  # late replica

    stream = read_event_stream(spark, f"{tmp_path}/*/events.jsonl")
    joined = join_payments_to_orders_stream(stream, within="1 day")
    _run_to_memory(joined, "ss_replay_sink", "append")
    rows = spark.sql("SELECT * FROM ss_replay_sink").collect()
    assert len(rows) == 1
    assert rows[0].payment_event_id == "pay-r-1" and rows[0].amount == 70.0


@pytest.mark.slow
def test_streaming_gold_upsert_incremental_continuation(spark, tmp_path):
    """Production cadence: drain, then NEW landing days arrive, drain again
    with the SAME checkpoint — only new files are processed (checkpoint
    bookkeeping) and gold tracks the batch answer over everything seen."""
    import json as _json

    from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily
    from commercepulse_data_pipeline_spark.plans.silver import (
        normalize_orders,
        normalize_payments,
        normalize_refunds,
    )
    from commercepulse_data_pipeline_spark.sources.readers import ENVELOPE_SCHEMA
    from commercepulse_data_pipeline_spark.streaming.gold_upsert import (
        maintain_gold_daily_stream,
    )
    from tests.conftest import _env

    landing = tmp_path / "landing"
    landing.mkdir()

    def day(name, events):
        d = landing / name
        d.mkdir()
        (d / "events.jsonl").write_text("\n".join(_json.dumps(e) for e in events) + "\n")

    o1 = _env("inc-o1", "order_created", "2026-03-01T10:00:00Z", "vendor_b",
              {"order_id": "I1", "customerId": "C1", "totalAmount": 100.0,
               "state": "pending", "created_at": "2026-03-01T10:00:00Z"})
    p1 = _env("inc-p1", "payment_succeeded", "2026-03-01T11:00:00Z", "vendor_b",
              {"transaction_id": "IP1", "order_id": "I1", "amountPaid": 100.0,
               "payment_status": "successful", "paid_at": "2026-03-01T11:00:00Z"})
    day("2026-03-01", [o1, p1])

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = maintain_gold_daily_stream(
        read_event_stream(spark, f"{landing}/*/events.jsonl"), store, ckpt)
    q.awaitTermination(120)
    g1 = spark.read.parquet(f"{store}/gold")
    assert g1.count() == 1 and g1.head().gross_revenue == 100.0

    # a later day arrives: an UPDATE moving I1's state + a brand-new order
    o1b = _env("inc-o1b", "order_updated", "2026-03-02T09:00:00Z", "vendor_b",
               {"order_id": "I1", "customerId": "C1", "totalAmount": 100.0,
                "state": "confirmed", "created_at": "2026-03-02T09:00:00Z"})
    o2 = _env("inc-o2", "order_created", "2026-03-02T10:00:00Z", "vendor_a",
              {"orderRef": "I2", "total": 50.0, "status": "confirmed",
               "created": "2026/03/02 10:00:00"})
    day("2026-03-02", [o1b, o2])

    q2 = maintain_gold_daily_stream(
        read_event_stream(spark, f"{landing}/*/events.jsonl"), store, ckpt)
    q2.awaitTermination(120)

    events = (
        spark.read.schema(ENVELOPE_SCHEMA)
        .json(f"{landing}/*/events.jsonl")
        .where(F.col("event_id").isNotNull())
    )
    expect = build_fact_order_daily(
        normalize_orders(events), normalize_payments(events), normalize_refunds(events)
    )
    got = spark.read.parquet(f"{store}/gold").select(*expect.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    # LWW moved I1 to 2026-03-02: the 03-01 group must have been dropped
    dates = {str(r.order_date)[:10] for r in got.select("order_date").collect()}
    assert dates == {"2026-03-02"}


def test_stream_clean_corpus_cross_batch_neardup(spark, tmp_path):
    """Streaming clean-corpus: batch 2's near-dup of a batch-1 doc is
    dropped via the persisted index (keep-first across batches), exact
    dups collapse within a batch, PII is scrubbed, replay-idempotent
    batch directories, and {store}/index interoperates with
    minhash_pairs_incremental."""
    import os
    import time

    from commercepulse_data_pipeline_spark.operators import dedup as dd
    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.corpus import clean_corpus_batch

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = "the quick brown fox jumps over the lazy dog again and again today"
    drops = tmp_path / "drops"
    drops.mkdir()
    f1 = str(drops / "b1.parquet")
    f2 = str(drops / "b2.parquet")
    # plain parquet FILES (a directory per drop would need a recursive
    # glob the file stream source doesn't do by default)
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], type=pa.int64()),
                  "text": [base, "unique first-batch content mail me at a@b.co please"]}),
        f1,
    )
    pq.write_table(
        pa.table({"doc_id": pa.array([10, 11, 12], type=pa.int64()),
                  "text": [base + " tonight",            # near-dup of indexed doc 1
                           "fresh second-batch content",
                           "fresh second-batch content"]}),  # exact dup of 11
        f2,
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))  # file order = batch order
    os.utime(f2, (now, now))

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(spark, str(drops), "doc_id long, text string", max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        lambda df, i: clean_corpus_batch(df, i, store, max_bucket=100000),
    )
    q.awaitTermination(120)

    corpus = spark.read.parquet(f"{store}/corpus")
    kept = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert kept == {1, 2, 11}, kept     # 10 near-dup dropped, 12 exact-dup dropped
    scrubbed = corpus.where(F.col("doc_id") == 2).head().text
    assert "<EMAIL>" in scrubbed and "a@b.co" not in scrubbed
    # two batch dirs (idempotent replay targets), index interop
    batches = {e.name for e in os.scandir(f"{store}/corpus") if e.is_dir()}
    assert len([b for b in batches if b.startswith("ingest_batch=")]) == 2
    batch3 = spark.createDataFrame([(30, base + " tonight")], "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in
             dd.minhash_pairs_incremental(batch3, spark, f"{store}/index").collect()}
    assert (1, 30) in pairs             # the persisted store IS a valid index

    # update_index=True against the STREAM-BUILT (hive-partitioned) index
    # must land under a partition value, not as flat root files — mixed
    # layout breaks Spark partition discovery on later reads (ADVICE r5)
    dd.minhash_pairs_incremental(
        batch3, spark, f"{store}/index", update_index=True
    ).collect()
    reread = spark.read.parquet(f"{store}/index/bands")   # discovery still works
    assert "ingest_batch" in reread.columns
    batch4 = spark.createDataFrame(
        [(40, base + " tonight indeed")], "doc_id long, text string"
    )
    pairs4 = {(r.id_a, r.id_b) for r in
              dd.minhash_pairs_incremental(batch4, spark, f"{store}/index").collect()}
    assert (30, 40) in pairs4           # batch-3 doc findable only via the append

    # write_minhash_index(mode=append) must take the SAME layout-aware
    # path (r6 self-review: it previously flat-appended, and Spark's
    # partition discovery silently DROPS flat root files — the appended
    # batch would vanish from every later dedup with no error)
    n_before = spark.read.parquet(f"{store}/index/bands").count()
    meta = dd.read_minhash_index_meta(spark, f"{store}/index")
    dd.write_minhash_index(
        batch4, f"{store}/index", mode="append",
        num_hashes=int(meta["num_hashes"]), bands=int(meta["bands"]),
        shingle_n=int(meta["shingle_n"]),
    )
    assert spark.read.parquet(f"{store}/index/bands").count() > n_before
    batch5 = spark.createDataFrame(
        [(50, base + " tonight indeed truly")], "doc_id long, text string"
    )
    pairs5 = {(r.id_a, r.id_b) for r in
              dd.minhash_pairs_incremental(batch5, spark, f"{store}/index").collect()}
    assert (40, 50) in pairs5           # batch-4 doc visible only if the append landed


def test_clean_corpus_batch_replay_idempotent(spark, tmp_path):
    """Checkpoint-replay safety: re-running a batch under the SAME
    batch_id must keep the same docs. Before the fix, the replay saw its
    first attempt's bands as 'indexed', every within-batch near-dup pair
    became a cross-batch pair, BOTH members dropped, and the overwrite
    erased the kept doc from corpus and index permanently."""
    from commercepulse_data_pipeline_spark.streaming.corpus import clean_corpus_batch

    base = "the quick brown fox jumps over the lazy dog again and again today"
    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [(1, base), (2, base + " tonight"),   # within-batch NEAR-dup pair
         (3, "entirely unrelated content")],
        "doc_id long, text string",
    )
    clean_corpus_batch(batch, 0, store, max_bucket=100000)
    first = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert first == {1, 3}                   # keep-first: lowest id wins

    clean_corpus_batch(batch, 0, store, max_bucket=100000)   # replay
    again = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert again == first                    # no data loss on replay
    # index mirrors the corpus (bands only for kept docs)
    idx_ids = {r.doc_id for r in
               spark.read.parquet(f"{store}/index/bands").select("doc_id").collect()}
    assert idx_ids == first

    # a LATER batch still dedups against batch 0's survivors
    batch1 = spark.createDataFrame(
        [(10, base + " tonight as well")], "doc_id long, text string"
    )
    clean_corpus_batch(batch1, 1, store, max_bucket=100000)
    final = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert final == {1, 3}                   # 10 dropped as cross-batch dup


def test_stream_dedup_embeddings_cross_batch(spark, tmp_path):
    """Streaming embedding curation: batch 2's near-dup of an indexed
    batch-1 vector drops (keep-first), within-batch dups collapse to the
    lowest id, the persisted store is a queryable LSH index, and batch
    replay under the same id is idempotent."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.operators import similarity as sim
    from commercepulse_data_pipeline_spark.streaming.embeddings import (
        dedup_embeddings_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    A = [1.0, 0.2, -0.5, 3.0]
    B = [-2.0, 1.0, 0.7, 0.1]
    C = [0.3, -4.0, 1.5, 0.9]
    emb = pa.list_(pa.float32())
    drops = tmp_path / "drops"
    drops.mkdir()
    f1, f2 = str(drops / "b1.parquet"), str(drops / "b2.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array([1, 2], type=pa.int64()),
        "embedding": pa.array([A, B], type=emb)}), f1)
    pq.write_table(pa.table({
        "vec_id": pa.array([10, 11, 12], type=pa.int64()),
        "embedding": pa.array(
            [[v * 1.001 for v in A],   # near-dup of indexed vector 1
             C,                         # fresh direction
             [v * 0.999 for v in C]],   # within-batch dup of 11
            type=emb)}), f2)
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(
            spark, str(drops), "vec_id long, embedding array<float>",
            max_files_per_trigger=1,
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: dedup_embeddings_batch(df, i, store, tau=0.99, n_planes=4),
    )
    q.awaitTermination(120)

    kept = {r.vec_id for r in
            spark.read.parquet(f"{store}/vectors").select("vec_id").collect()}
    assert kept == {1, 2, 11}, kept

    # the persisted store IS a valid LSH index: a probe in direction A
    # is served the surviving copy (vector 1), not the dropped near-dup
    got = sim.lsh_topk_indexed(spark, f"{store}/index", A, k=1, probes=1).collect()
    assert got and got[0].vec_id == 1

    # replay idempotency: re-running batch 1 (the second file) under its
    # original batch id must keep the same rows — the index read excludes
    # the batch's own partition, so 11 never dedups against its own
    # first-attempt copy
    batch2 = spark.createDataFrame(
        [(10, [v * 1.001 for v in A]), (11, C), (12, [v * 0.999 for v in C])],
        "vec_id long, embedding array<float>",
    )
    dedup_embeddings_batch(batch2, 1, store, tau=0.99, n_planes=4)
    kept2 = {r.vec_id for r in
             spark.read.parquet(f"{store}/vectors").select("vec_id").collect()}
    assert kept2 == {1, 2, 11}, kept2


# ---------------------------------------------------------------------------
# Crash-replay from the checkpoint (VERDICT r6 item 5): the foreachBatch
# sinks are logically idempotent — these tests actually KILL a stream
# mid-batch (after its writes, before the checkpoint commit: the worst
# at-least-once window, including a torn partial write) and restart from
# the same checkpoint, asserting the store converges to the clean result.
# ---------------------------------------------------------------------------


def _two_doc_drops(tmp_path):
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = "the quick brown fox jumps over the lazy dog again and again today"
    drops = tmp_path / "drops"
    drops.mkdir()
    f1, f2 = str(drops / "b1.parquet"), str(drops / "b2.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], type=pa.int64()),
                  "text": [base, "unique first-batch content here"]}), f1)
    pq.write_table(
        pa.table({"doc_id": pa.array([10, 11, 12], type=pa.int64()),
                  "text": [base + " tonight",            # near-dup of doc 1
                           "fresh second-batch content",
                           "fresh second-batch content"]}), f2)  # exact dup
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))
    return str(drops)


def test_corpus_stream_crash_replay_from_checkpoint(spark, tmp_path):
    """Kill the clean-corpus stream AFTER batch 1 wrote its corpus
    partition but with its bands partition torn away (crash between the
    two sinks, before the checkpoint commit). Restarting from the same
    checkpoint must re-deliver batch 1 and converge to the clean result —
    including healing the missing index partition."""
    import os
    import shutil

    from commercepulse_data_pipeline_spark.streaming.corpus import (
        clean_corpus_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    drops = _two_doc_drops(tmp_path)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def crashing(bdf, bid):
        clean_corpus_batch(bdf, bid, store, max_bucket=100000)
        if bid == 1:
            # torn write: the second sink's output vanishes with the crash
            shutil.rmtree(f"{store}/index/bands/ingest_batch=1")
            raise RuntimeError("injected crash before checkpoint commit")

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert not os.path.exists(f"{store}/index/bands/ingest_batch=1")  # torn

    # restart from the SAME checkpoint: batch 1 is re-delivered
    q2 = batches.start(
        batches.drops(spark, drops, "doc_id long, text string", max_files_per_trigger=1),
        ckpt,
        lambda df, i: clean_corpus_batch(df, i, store, max_bucket=100000),
    )
    q2.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert kept == {1, 2, 11}, kept
    idx_ids = {r.doc_id for r in
               spark.read.parquet(f"{store}/index/bands").select("doc_id").collect()}
    assert idx_ids == kept  # index healed to mirror the corpus


def test_embeddings_stream_crash_replay_from_checkpoint(spark, tmp_path):
    """Same kill-and-restart for the embedding store: batch 1's writes
    land, the commit doesn't; the replayed batch must not dedup against
    its own first attempt and the store converges."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming.embeddings import (
        dedup_embeddings_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    A = [1.0, 0.2, -0.5, 3.0]
    B = [-2.0, 1.0, 0.7, 0.1]
    C = [0.3, -4.0, 1.5, 0.9]
    emb = pa.list_(pa.float32())
    drops = tmp_path / "drops"
    drops.mkdir()
    f1, f2 = str(drops / "b1.parquet"), str(drops / "b2.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array([1, 2], type=pa.int64()),
        "embedding": pa.array([A, B], type=emb)}), f1)
    pq.write_table(pa.table({
        "vec_id": pa.array([10, 11, 12], type=pa.int64()),
        "embedding": pa.array(
            [[v * 1.001 for v in A], C, [v * 0.999 for v in C]], type=emb)}), f2)
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def crashing(bdf, bid):
        dedup_embeddings_batch(bdf, bid, store, tau=0.99, n_planes=4)
        if bid == 1:
            raise RuntimeError("injected crash before checkpoint commit")

    q = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drops))
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)

    q2 = batches.start(
        batches.drops(
            spark, str(drops), "vec_id long, embedding array<float>",
            max_files_per_trigger=1,
        ),
        ckpt,
        lambda df, i: dedup_embeddings_batch(df, i, store, tau=0.99, n_planes=4),
    )
    q2.awaitTermination(120)
    kept = {r.vec_id for r in
            spark.read.parquet(f"{store}/vectors").select("vec_id").collect()}
    assert kept == {1, 2, 11}, kept


@pytest.mark.slow
def test_gold_stream_crash_replay_from_checkpoint(spark, landing_dir, tmp_path):
    """Kill the gold IVM stream after batch 1's store swap (all four
    directories updated, checkpoint commit missing), restart from the
    same checkpoint, and require gold to equal the batch reference — the
    union + re-dedup fold must absorb the double-applied batch."""
    import os

    from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily
    from commercepulse_data_pipeline_spark.plans.silver import (
        normalize_orders,
        normalize_payments,
        normalize_refunds,
    )
    from commercepulse_data_pipeline_spark.sources.readers import ENVELOPE_SCHEMA
    from commercepulse_data_pipeline_spark.streaming.gold_upsert import (
        maintain_gold_daily_stream,
        upsert_gold_batch,
    )

    store = str(tmp_path / "gold_store")
    ckpt = str(tmp_path / "ckpt")

    def crashing(bdf, bid):
        upsert_gold_batch(bdf, store)
        if bid == 1:
            raise RuntimeError("injected crash before checkpoint commit")

    q = (
        read_event_stream(spark, f"{landing_dir}/*/events.jsonl", max_files_per_trigger=1)
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(180)

    q2 = maintain_gold_daily_stream(
        read_event_stream(spark, f"{landing_dir}/*/events.jsonl", max_files_per_trigger=1),
        store,
        ckpt,
    )
    q2.awaitTermination(180)

    batch_events = (
        spark.read.schema(ENVELOPE_SCHEMA)
        .json(f"{landing_dir}/*/events.jsonl")
        .where(F.col("event_id").isNotNull())
    )
    expect = build_fact_order_daily(
        normalize_orders(batch_events),
        normalize_payments(batch_events),
        normalize_refunds(batch_events),
    )
    got = spark.read.parquet(f"{store}/gold").select(*expect.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    assert got.count() > 0


# the fold's renames into the store: the swap's intent record, then two
# per table (live aside, tmp in) for orders, payments, refunds, gold
_FOLD_STORE_RENAMES = 9


@pytest.fixture(scope="module")
def date_move_fold(spark, tmp_path_factory):
    """A two-batch fold whose second batch MOVES an order across dates:
    batch 0 lands o1 late on 2026-01-01 plus o2 on 2026-01-01; batch 1
    updates o1 to 2026-01-02. Batch 1 is folded once, uninterrupted,
    into a copy of the batch-0 store, and the store is copied just before
    each rename or replace into it: copy k is exactly what a crash at
    rename k leaves on disk. Counting both calls keeps the test
    independent of which one the commit code uses."""
    import os
    import shutil

    from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily
    from commercepulse_data_pipeline_spark.plans.silver import (
        normalize_orders,
        normalize_payments,
        normalize_refunds,
    )
    from commercepulse_data_pipeline_spark.sources.readers import ENVELOPE_SCHEMA
    from commercepulse_data_pipeline_spark.streaming import gold_upsert as gu
    from tests.conftest import _env

    def order(eid, etype, oid, created_at):
        return _env(eid, etype, created_at, "vendor_b",
                    {"order_id": oid, "customerId": "C1", "totalAmount": 100.0,
                     "state": "confirmed", "created_at": created_at})

    def frame(events):
        names = ENVELOPE_SCHEMA.fieldNames()
        return spark.createDataFrame([tuple(e.get(n) for n in names) for e in events], ENVELOPE_SCHEMA)

    batch0 = frame([order("e1", "order_created", "o1", "2026-01-01T23:00:00Z"),
                    order("e2", "order_created", "o2", "2026-01-01T10:00:00Z")])
    batch1 = frame([order("e3", "order_updated", "o1", "2026-01-02T01:00:00Z")])
    root = tmp_path_factory.mktemp("date_move")
    store = str(root / "store")
    gu.upsert_gold_batch(batch0, store)

    crashed: list[str] = []
    with pytest.MonkeyPatch.context() as mp:
        for name in ("rename", "replace"):
            def snapshot(src, dst, *a, _real=getattr(os, name), **kw):
                if store in str(src) or store in str(dst):
                    crashed.append(str(root / f"crash{len(crashed) + 1}"))
                    shutil.copytree(store, crashed[-1])
                return _real(src, dst, *a, **kw)

            mp.setattr(os, name, snapshot)
        gu.upsert_gold_batch(batch1, store)

    both = batch0.unionByName(batch1)
    expect = build_fact_order_daily(
        normalize_orders(both), normalize_payments(both), normalize_refunds(both)
    )
    return {
        "store": store,
        "crashed": crashed,
        "batch1": batch1,
        "cols": expect.columns,
        "expect": sorted(map(tuple, expect.collect())),
    }


def _gold_rows(spark, store, cols):
    return sorted(map(tuple, spark.read.parquet(f"{store}/gold").select(*cols).collect()))


def test_gold_fold_uninterrupted_matches_batch(spark, date_move_fold):
    import os

    f = date_move_fold
    assert len(f["crashed"]) == _FOLD_STORE_RENAMES
    assert _gold_rows(spark, f["store"], f["cols"]) == f["expect"]
    assert sorted(os.listdir(f["store"])) == ["gold", "orders", "payments", "refunds"]


@pytest.mark.parametrize("crash_at", range(1, _FOLD_STORE_RENAMES + 1))
def test_gold_fold_crash_at_every_store_rename_then_replay_converges(
    spark, date_move_fold, tmp_path, crash_at
):
    """Replay batch 1 on the store a crash at each rename left behind:
    gold must equal the batch build. A fold whose four tables swap one by
    one fails here: the replay reads the already-swapped orders, misses
    o1's old date, and 2026-01-01 keeps order_count 2."""
    import os
    import shutil

    from commercepulse_data_pipeline_spark.streaming import gold_upsert as gu

    f = date_move_fold
    assert crash_at <= len(f["crashed"]), "the fold made fewer renames"
    store = str(tmp_path / "store")
    shutil.copytree(f["crashed"][crash_at - 1], store)
    gu.upsert_gold_batch(f["batch1"], store)
    assert _gold_rows(spark, store, f["cols"]) == f["expect"]
    assert sorted(os.listdir(store)) == ["gold", "orders", "payments", "refunds"]


@pytest.mark.slow
def test_streaming_funnel_converges_to_batch_under_late_arrival(spark, tmp_path):
    """The stateful streaming funnel (streaming/funnels.py) equals the
    batch ordered_funnel after the stream drains — INCLUDING a
    late-but-within-watermark step-1 event that arrives a batch later
    and retroactively moves t1 (the case a naive advance-a-counter
    funnel gets wrong). Heartbeat events (a type outside the step list)
    only push the watermark."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.operators.windows import ordered_funnel
    from commercepulse_data_pipeline_spark.streaming.funnels import streaming_funnel

    def ts(sec):
        return pd.Timestamp("2026-03-01", tz="UTC") + pd.Timedelta(seconds=sec)

    steps = ["A", "B", "C"]
    drops = tmp_path / "drops"
    drops.mkdir()
    d1 = [(1, ts(100), "A"), (1, ts(105), "B"), (2, ts(100), "A")]
    # u1's A@96 arrives one batch LATE (watermark after d1 = 105-10 = 95,
    # so 96 is still admissible) and must become the new t1; B@105 > 96
    # still matches; C@110 completes. u3's far-future heartbeats push the
    # watermark GLOBALLY — u1/u2 receive NOTHING after d2 and must
    # finalize via their EventTimeTimeout, not via events of their own.
    d2 = [(1, ts(96), "A"), (1, ts(110), "C"), (2, ts(103), "B"),
          (3, ts(200), "hb")]
    d3 = [(3, ts(300), "hb")]
    for i, rows in enumerate((d1, d2, d3)):
        pq.write_table(
            pa.table({
                "user_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "event_ts": pa.array([r[1] for r in rows],
                                     type=pa.timestamp("us", tz="UTC")),
                "event_type": [r[2] for r in rows],
            }),
            str(drops / f"d{i}.parquet"),
        )
        os.utime(str(drops / f"d{i}.parquet"),
                 (time.time() - 60 + i, time.time() - 60 + i))

    stream = (
        spark.readStream.schema("user_id long, event_ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drops))
        .withWatermark("event_ts", "10 seconds")
    )
    out_dir = str(tmp_path / "out")

    def sink(bdf, bid):
        bdf.withColumn("b", F.lit(bid)).write.mode("append").parquet(out_dir)

    q = (
        streaming_funnel(stream, steps)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = spark.read.parquet(out_dir).collect()
    latest = {}
    for r in rows:
        if r["user_id"] not in latest or r["b"] > latest[r["user_id"]]["b"]:
            latest[r["user_id"]] = r

    events = spark.createDataFrame(
        [(u, t.to_pydatetime(), ty) for batch in (d1, d2, d3) for (u, t, ty) in batch],
        "user_id long, ts timestamp, event_type string",
    )
    batch = {
        r["user_id"]: r
        for r in ordered_funnel(events, steps, ts_col="ts").collect()
    }
    for u in (1, 2):
        got, want = latest[u], batch[u]
        for i, _ in enumerate(steps, start=1):
            want_us = (
                None
                if want[f"t{i}"] is None
                else int(pd.Timestamp(want[f"t{i}"]).value // 1000)
            )
            assert got[f"t{i}_us"] == want_us, (u, i, got, want)
    assert latest[1]["steps_completed"] == 3
    assert latest[2]["steps_completed"] == 2
    # the late A@96 really did move t1 back
    assert latest[1]["t1_us"] == int(pd.Timestamp(ts(96)).value // 1000)


@pytest.mark.slow
def test_streaming_funnel_string_keyed_custom_column(spark, tmp_path):
    """The output key column derives its name AND type from the input
    stream's user_col — a string-keyed stream named something other than
    user_id works and labels the column correctly (the hardcoded
    user_id/LongType schema this test pins against regressing)."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming.funnels import streaming_funnel

    def ts(sec):
        return pd.Timestamp("2026-03-01", tz="UTC") + pd.Timedelta(seconds=sec)

    drops = tmp_path / "drops"
    drops.mkdir()
    d1 = [("alice", ts(100), "A"), ("alice", ts(105), "B"),
          ("bob", ts(100), "A"), ("hb", ts(500), "hb")]
    d2 = [("hb", ts(900), "hb")]
    for i, rows in enumerate((d1, d2)):
        pq.write_table(
            pa.table({
                "session_key": [r[0] for r in rows],
                "event_ts": pa.array([r[1] for r in rows],
                                     type=pa.timestamp("us", tz="UTC")),
                "event_type": [r[2] for r in rows],
            }),
            str(drops / f"d{i}.parquet"),
        )
        os.utime(str(drops / f"d{i}.parquet"),
                 (time.time() - 60 + i, time.time() - 60 + i))

    stream = (
        spark.readStream.schema(
            "session_key string, event_ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drops))
        .withWatermark("event_ts", "10 seconds")
    )
    out = streaming_funnel(stream, ["A", "B"], user_col="session_key")
    assert out.schema["session_key"].dataType.simpleString() == "string"
    out_dir = str(tmp_path / "out")
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda bdf, bid: bdf.write.mode("append").parquet(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows_out = spark.read.parquet(out_dir).collect()
    got = {}
    for r in rows_out:
        if (r["session_key"] not in got
                or r["steps_completed"] > got[r["session_key"]]["steps_completed"]):
            got[r["session_key"]] = r
    assert got["alice"]["steps_completed"] == 2
    assert got["bob"]["steps_completed"] == 1


def test_deterministic_sample_is_stream_batch_unified(spark, tmp_path):
    """Content-keyed sampling is a stateless projection, so the SAME
    operator runs unchanged on a stream and selects the SAME rows the
    batch form selects — the batch/stream unification the md5-bucket
    discipline buys (per-partition-seeded df.sample could not)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.operators.sampling import (
        deterministic_sample,
    )

    drops = tmp_path / "drops"
    drops.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array(range(500), type=pa.int64())}),
        str(drops / "d.parquet"),
    )
    stream = spark.readStream.schema("doc_id long").parquet(str(drops))
    out = str(tmp_path / "out")
    q = (
        deterministic_sample(stream, "doc_id", 0.25, salt="s1:")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    batch = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    want = {
        r["doc_id"]
        for r in deterministic_sample(batch, "doc_id", 0.25, salt="s1:").collect()
    }
    assert got == want and 0 < len(got) < 500


def test_stream_passage_dedup_cross_batch(spark, tmp_path):
    """Streaming passage dedup: a passage indexed by an earlier batch is
    spliced out of later arrivals (keep-first), within-batch canonicals
    survive, a direct replay of a batch reproduces its first attempt
    (own-partition exclusion), and min_docs counts accumulate ACROSS
    batches."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.passages import (
        passage_dedup_batch,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    drops = tmp_path / "drops"
    drops.mkdir()
    b1 = [(1, f"opening words of the first arrival {shared} and a closing"),
          (2, "completely unrelated early document with its own words")]
    b2 = [(3, f"late arrival quoting {shared} inside fresh surrounding text"),
          (4, f"{shared}")]  # nothing but the passage
    for i, rows in enumerate((b1, b2)):
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                      "text": [r[1] for r in rows]}),
            str(drops / f"d{i}.parquet"),
        )
        os.utime(str(drops / f"d{i}.parquet"),
                 (time.time() - 60 + i, time.time() - 60 + i))

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(spark, str(drops), "doc_id long, text string", max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        lambda df, i: passage_dedup_batch(df, i, store),
    )
    q.awaitTermination(120)

    corpus = spark.read.parquet(f"{store}/corpus")
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    removed = {r["doc_id"]: r["n_tokens_removed"] for r in corpus.collect()}
    assert shared in texts[1]            # batch-1 canonical untouched
    assert removed[1] == 0 and removed[2] == 0
    assert shared not in texts[3]        # cross-batch dup spliced
    assert "late arrival quoting" in texts[3]
    assert "fresh surrounding text" in texts[3]
    assert texts[4] == "" and removed[4] == 8

    # direct REPLAY of the last batch (batch_id=1): own-partition
    # exclusion means the rewrite is identical, not doubly spliced / not
    # suddenly treating batch-1 content as foreign
    rows2 = spark.createDataFrame(b2, "doc_id long, text string")
    passage_dedup_batch(rows2, 1, store)
    texts_r = {r["doc_id"]: r["text"]
               for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert texts_r == texts

    # min_docs=3: counts accumulate across batches — splice only fires
    # when the THIRD distinct doc arrives
    store3 = str(tmp_path / "store3")
    for bid, doc_id in enumerate((10, 11, 12)):
        passage_dedup_batch(
            spark.createDataFrame(
                [(doc_id, f"doc body number {doc_id} then {shared} tail")],
                "doc_id long, text string",
            ),
            bid, store3, min_docs=3,
        )
    t3 = {r["doc_id"]: r["text"]
          for r in spark.read.parquet(f"{store3}/corpus").collect()}
    assert shared in t3[10] and shared in t3[11]   # totals 1, 2 < 3
    assert shared not in t3[12]                     # total reaches 3


def test_stream_passage_dedup_with_seeded_probe_index(spark, tmp_path):
    """seed_probe_fingerprints turns the passage-dedup stream into a
    continuous decontaminator: a benchmark passage seeded BEFORE the
    stream is spliced from the very first arrival (no canonical
    survivor), while ordinary cross-batch dedup semantics are
    unaffected."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.passages import (
        passage_dedup_batch,
        seed_probe_fingerprints,
    )

    eval_text = "alpha bravo charlie delta echo foxtrot golf hotel india"
    store = str(tmp_path / "store")
    seed_probe_fingerprints(
        spark.createDataFrame([(100, eval_text)], "doc_id long, text string"),
        store,
    )

    drops = tmp_path / "drops"
    drops.mkdir()
    rows = [(1, f"training doc quoting {eval_text} within original prose"),
            (2, "wholly original document with no benchmark content at all")]
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                  "text": [r[1] for r in rows]}),
        str(drops / "d0.parquet"),
    )
    os.utime(str(drops / "d0.parquet"), (time.time() - 60, time.time() - 60))

    q = batches.start(
        batches.drops(spark, str(drops), "doc_id long, text string"),
        str(tmp_path / "ckpt"),
        lambda df, i: passage_dedup_batch(df, i, store),
    )
    q.awaitTermination(120)
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(f"{store}/corpus").collect()}
    # the FIRST arrival is already spliced — seeded fps have no canonical
    assert "alpha" not in texts[1] and "india" not in texts[1]
    assert texts[1] == "training doc quoting within original prose"
    assert texts[2] == rows[1][1]


def test_passage_stream_crash_replay_from_checkpoint(spark, tmp_path):
    """Kill the passage-dedup stream AFTER batch 1 wrote its corpus
    partition but with its fingerprint-index partition torn away (crash
    between the two sinks, before the checkpoint commit). Restarting
    from the same checkpoint re-delivers batch 1; own-partition
    exclusion means the replay does NOT splice against its own first
    attempt, and the healed index serves batch 2 correctly."""
    import os
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming import batches as stream_batches
    from commercepulse_data_pipeline_spark.streaming.passages import (
        passage_dedup_batch,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    drops = tmp_path / "drops"
    drops.mkdir()
    batches = [
        [(1, f"first carrier of the passage {shared} original one")],
        [(2, f"second doc quoting {shared} with its own tail")],
        [(3, f"third doc also has {shared} and more words")],
    ]
    for i, rows in enumerate(batches):
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                      "text": [r[1] for r in rows]}),
            str(drops / f"d{i}.parquet"),
        )
        os.utime(str(drops / f"d{i}.parquet"),
                 (time.time() - 60 + i, time.time() - 60 + i))

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def crashing(bdf, bid):
        passage_dedup_batch(bdf, bid, store)
        if bid == 1:
            shutil.rmtree(f"{store}/fp_index/ingest_batch=1")
            raise RuntimeError("injected crash before checkpoint commit")

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drops))
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert not os.path.exists(f"{store}/fp_index/ingest_batch=1")  # torn

    q2 = stream_batches.start(
        stream_batches.drops(
            spark, str(drops), "doc_id long, text string", max_files_per_trigger=1
        ),
        ckpt,
        lambda df, i: passage_dedup_batch(df, i, store),
    )
    q2.awaitTermination(120)
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert shared in texts[1]        # batch-0 canonical untouched
    assert shared not in texts[2]    # replayed batch 1 spliced vs batch 0
    assert "its own tail" in texts[2]
    assert shared not in texts[3]    # batch 2 spliced via the healed index
    # index healed: every batch partition present again
    parts = {e for e in os.listdir(f"{store}/fp_index")
             if e.startswith("ingest_batch=")}
    assert parts == {"ingest_batch=0", "ingest_batch=1", "ingest_batch=2"}


def test_stream_ivfpq_ingest_replay_idempotent(spark, tmp_path):
    """Streaming IVF+PQ ingest: drops encode against the frozen index
    under batch-id partitions (a direct batch replay overwrites, never
    duplicates), and a probe over base + streamed codes finds an
    appended near-twin through the combined store."""
    import math
    import os
    import random
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.operators import similarity as sim
    from commercepulse_data_pipeline_spark.streaming.vectors import (
        ivfpq_codes_from_store,
        ivfpq_ingest_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    rng = random.Random(21)

    def mk(i, base):
        v = [x + rng.gauss(0, 0.05) for x in base]
        n = math.sqrt(sum(x * x for x in v))
        return (i, [x / n for x in v])

    A, B = [1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]
    base_rows = [mk(i, A if i % 2 == 0 else B) for i in range(30)]
    df = spark.createDataFrame(base_rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivfpq")
    sim.write_ivfpq_index(df, idx, n_centroids=2, m=2, n_codes=4, iters=1)

    drops = tmp_path / "drops"
    drops.mkdir()
    emb = pa.list_(pa.float32())
    d1 = [mk(100, A), mk(101, B)]
    d2 = [(200, A)]  # exact cluster-A center arrives in batch 2
    for i, rows in enumerate((d1, d2)):
        pq.write_table(
            pa.table({"vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
                      "embedding": pa.array([r[1] for r in rows], type=emb)}),
            str(drops / f"d{i}.parquet"),
        )
        os.utime(str(drops / f"d{i}.parquet"),
                 (time.time() - 60 + i, time.time() - 60 + i))

    q = batches.start(
        batches.drops(
            spark, str(drops), "vec_id long, embedding array<float>",
            max_files_per_trigger=1,
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: ivfpq_ingest_batch(df, i, idx),
    )
    q.awaitTermination(120)

    combined = ivfpq_codes_from_store(spark, idx)
    assert combined.count() == 33
    got = sim.ivfpq_topk(spark, idx, A, k=33, nprobe=1, codes=combined)
    by_id = {r["vec_id"]: r["approx_d2"] for r in got.collect()}
    assert 200 in by_id and by_id[200] == min(by_id.values())

    # direct replay of batch 1: own-partition overwrite, no duplication
    ivfpq_ingest_batch(
        spark.createDataFrame(d2, "vec_id long, embedding array<float>"),
        1, idx,
    )
    assert ivfpq_codes_from_store(spark, idx).count() == 33


def test_passage_fp_index_fold_probe_equality(spark, tmp_path, monkeypatch):
    """VERDICT r9 item 4: the passage fp-index's additive row-preserving
    fold (claimed at streaming/passages.py module docstring) holds — the
    per-fingerprint summed counts (the exact input to the duplicate
    decision) are identical before the fold, during BOTH marker windows
    of a crashed fold, and after recovery; and a real batch processed
    against the folded store still splices an indexed passage. Mirrors
    the five sketch stores' probe-during-fold tests."""
    import os
    import shutil

    import pytest as _pytest

    from commercepulse_data_pipeline_spark.sources.readers import (
        compact_streaming_index,
        fold_consistent_read,
    )
    from commercepulse_data_pipeline_spark.streaming.passages import (
        passage_dedup_batch,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    other = "india juliet kilo lima mike november oscar papa"
    store = str(tmp_path / "pstore")
    fp_root = f"{store}/fp_index"
    docs = [
        (0, 10, f"first arrival carries {shared} in full"),
        (1, 11, f"second arrival also quotes {shared} entirely"),
        (2, 12, f"third arrival brings {other} instead of it"),
        (3, 13, f"fourth arrival repeats {other} one more time"),
    ]
    for bid, doc_id, text in docs:
        passage_dedup_batch(
            spark.createDataFrame([(doc_id, text)], "doc_id long, text string"),
            bid, store,
        )

    def probe():
        df = fold_consistent_read(spark, fp_root)
        return sorted(
            (r["fp"], r["n"])
            for r in df.groupBy("fp").agg(F.sum("n_docs").alias("n")).collect()
        )

    truth = probe()
    assert truth, "expected a populated fp index"

    # -- window 1: PRE-COMMIT. Crash the fold at the marker rename.
    real_rename = os.rename

    def crash_marker(src, dst):
        if str(dst).endswith("_FOLDED.json"):
            raise RuntimeError("injected crash before commit")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_marker)
    with _pytest.raises(RuntimeError, match="before commit"):
        compact_streaming_index(spark, fp_root, keep_latest=1)
    monkeypatch.undo()
    assert probe() == truth  # roll-back view
    # full recovery + fold completes: counts unchanged, store folded
    compact_streaming_index(spark, fp_root, keep_latest=1)
    assert probe() == truth
    assert os.path.isdir(os.path.join(fp_root, "ingest_batch=-1"))
    assert not os.path.exists(fp_root + "._fold_old")

    # -- window 2: POST-COMMIT, consolidated still in tmp (the fold now
    # subsumes the existing consolidated partition too).
    passage_dedup_batch(
        spark.createDataFrame(
            [(14, f"fifth arrival quotes {shared} once more")],
            "doc_id long, text string",
        ),
        4, store,
    )
    truth2 = probe()
    assert truth2 != truth  # the new batch's counts are visible

    def crash_cons(src, dst):
        if str(dst) == os.path.join(fp_root, "ingest_batch=-1"):
            raise RuntimeError("injected crash at commit point")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_cons)
    with _pytest.raises(RuntimeError, match="commit point"):
        compact_streaming_index(spark, fp_root, keep_latest=0)
    monkeypatch.undo()
    assert os.path.exists(fp_root + "._fold_old/_FOLDED.json")
    assert probe() == truth2  # roll-forward view reads tmp consolidated

    # -- window 3: consolidated renamed in, folded dirs not yet deleted
    # (the double-count window for an additive index).
    real_rmtree = shutil.rmtree

    def crash_rmtree(path, *a, **kw):
        if "ingest_batch=" in str(path) and "._fold" not in str(path):
            raise RuntimeError("injected crash before folded-dir delete")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", crash_rmtree)
    with _pytest.raises(RuntimeError, match="folded-dir delete"):
        compact_streaming_index(spark, fp_root, keep_latest=0)
    monkeypatch.undo()
    assert probe() == truth2  # no double count
    compact_streaming_index(spark, fp_root, keep_latest=0)
    assert probe() == truth2

    # -- the batch path itself works against the fully-folded store: a
    # new arrival quoting the indexed passage is spliced with no
    # surviving canonical in its own batch
    passage_dedup_batch(
        spark.createDataFrame(
            [(15, f"post fold arrival with {shared} to remove")],
            "doc_id long, text string",
        ),
        5, store,
    )
    t15 = spark.read.parquet(f"{store}/corpus/ingest_batch=5").head()
    assert shared not in t15["text"]
    assert t15["n_tokens_removed"] == 8


def test_stream_boilerplate_strip_scoped_cross_batch(spark, tmp_path):
    """Streaming per-source boilerplate stripping: (a) a template window
    reaching min_docs WITHIN one source across batches is spliced from
    every occurrence in the deciding (and later) batches — no canonical
    survivor; (b) the same text in a different source stays (scope
    isolation); (c) a direct replay of a batch reproduces its first
    attempt (own-partition exclusion); (d) a single-batch arrival
    matches the batch operator."""
    from commercepulse_data_pipeline_spark.operators.text import (
        strip_boilerplate,
    )
    from commercepulse_data_pipeline_spark.streaming.passages import (
        boilerplate_strip_batch,
    )

    tpl = "click here to subscribe to our newsletter today"  # 8 tokens
    store = str(tmp_path / "bstore")
    b0 = [(1, "A", f"first article text then {tpl} closing words")]
    b1 = [(2, "A", f"second piece also carries {tpl} at the end"),
          (3, "B", f"b source quoting {tpl} exactly once here")]
    schema = "doc_id long, source string, text string"
    boilerplate_strip_batch(spark.createDataFrame(b0, schema), 0, store)
    boilerplate_strip_batch(spark.createDataFrame(b1, schema), 1, store)

    corpus = spark.read.parquet(f"{store}/corpus")
    got = {r["doc_id"]: r for r in corpus.collect()}
    # batch 0 landed before the threshold: streaming cannot retro-splice
    assert tpl in got[1]["text"] and got[1]["n_tokens_removed"] == 0
    # batch 1 crosses the A-source threshold: doc 2 loses the template
    assert tpl not in got[2]["text"]
    assert got[2]["n_tokens_removed"] == 8
    assert "second piece also carries" in got[2]["text"]
    # scope isolation: B has one occurrence, stays
    assert tpl in got[3]["text"] and got[3]["n_tokens_removed"] == 0

    # replay of batch 1: own-partition exclusion -> identical output
    boilerplate_strip_batch(spark.createDataFrame(b1, schema), 1, store)
    got_r = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert got_r == {k: v["text"] for k, v in got.items()}

    # later batch in A: the index alone (2 docs) trips the threshold
    b2 = [(4, "A", f"third doc with {tpl} and nothing else shared")]
    boilerplate_strip_batch(spark.createDataFrame(b2, schema), 2, store)
    t4 = spark.read.parquet(f"{store}/corpus/ingest_batch=2").head()
    assert tpl not in t4["text"] and t4["n_tokens_removed"] == 8

    # single-batch arrival == batch operator (both A docs spliced, B kept)
    store2 = str(tmp_path / "bstore2")
    allrows = b0 + b1
    boilerplate_strip_batch(spark.createDataFrame(allrows, schema), 0, store2)
    stream_out = {r["doc_id"]: r["text"] for r in
                  spark.read.parquet(f"{store2}/corpus").collect()}
    batch_out = {r["doc_id"]: r["text_stripped"] for r in
                 strip_boilerplate(
                     spark.createDataFrame(allrows, schema),
                     window_tokens=8, min_docs=2).collect()}
    assert stream_out == batch_out


def test_stream_boilerplate_strip_wrapper_end_to_end(spark, tmp_path):
    """The readStream wrapper drives the same batch fn: two drops arrive
    as separate micro-batches; the second crosses the per-source
    threshold and lands stripped."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming import batches as stream_batches
    from commercepulse_data_pipeline_spark.streaming.passages import (
        boilerplate_strip_batch,
    )

    tpl = "one two three four five six seven eight"
    drops = tmp_path / "drops"
    drops.mkdir()
    batches = [
        [(1, "A", f"lead text {tpl} tail text")],
        [(2, "A", f"other words {tpl} trailing bits")],
    ]
    for i, rows in enumerate(batches):
        pq.write_table(
            pa.table({
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "source": [r[1] for r in rows],
                "text": [r[2] for r in rows],
            }),
            str(drops / f"d{i}.parquet"),
        )
        os.utime(str(drops / f"d{i}.parquet"),
                 (time.time() - 60 + i, time.time() - 60 + i))

    store = str(tmp_path / "store")
    q = stream_batches.start(
        stream_batches.drops(
            spark, str(drops), "doc_id long, source string, text string",
            max_files_per_trigger=1,
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: boilerplate_strip_batch(df, i, store),
    )
    q.awaitTermination(120)
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert tpl in texts[1]       # first arrival pre-threshold
    assert tpl not in texts[2]   # second arrival stripped


def test_boilerplate_stream_crash_replay_and_fold(spark, tmp_path):
    """Boilerplate-strip store inherits the passage store's guarantees:
    (a) a crash between the two sinks (corpus written, fp-index
    partition torn) heals on checkpoint restart — the replayed batch
    reproduces its first attempt (own-partition exclusion) and later
    batches see correct scoped counts; (b) a compact_streaming_index
    fold of the (scope, fp) index preserves the duplicate decision for
    a post-fold batch."""
    import os
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.sources.readers import (
        compact_streaming_index,
    )
    from commercepulse_data_pipeline_spark.streaming.passages import (
        boilerplate_strip_batch,
    )

    tpl = "one two three four five six seven eight"
    drops = tmp_path / "drops"
    drops.mkdir()
    batches = [
        [(1, "A", f"first arrival carries {tpl} today")],
        [(2, "A", f"second arrival repeats {tpl} again")],
        [(3, "A", f"third arrival also has {tpl} inside")],
    ]
    schema = "doc_id long, source string, text string"
    for i, rows in enumerate(batches):
        pq.write_table(
            pa.table({
                "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "source": [r[1] for r in rows],
                "text": [r[2] for r in rows],
            }),
            str(drops / f"d{i}.parquet"),
        )
        os.utime(str(drops / f"d{i}.parquet"),
                 (time.time() - 60 + i, time.time() - 60 + i))

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def crashing(bdf, bid):
        boilerplate_strip_batch(bdf, bid, store)
        if bid == 1:
            shutil.rmtree(f"{store}/fp_index/ingest_batch=1")
            raise RuntimeError("injected crash before checkpoint commit")

    def start(fn):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drops))
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start(crashing)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    # restart: batch 1 replays (healing its torn index partition), batch
    # 2 then sees counts from batches 0+1
    q2 = start(lambda bdf, bid: boilerplate_strip_batch(bdf, bid, store))
    q2.awaitTermination(120)
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert tpl in texts[1]        # pre-threshold batch stays as landed
    assert tpl not in texts[2]    # threshold crossed at batch 1's replay
    assert tpl not in texts[3]
    assert os.path.isdir(f"{store}/fp_index/ingest_batch=1")  # healed

    # fold the scoped index; a post-fold batch still strips
    compact_streaming_index(spark, f"{store}/fp_index", keep_latest=0)
    boilerplate_strip_batch(
        spark.createDataFrame(
            [(4, "A", f"post fold arrival with {tpl} too")], schema
        ),
        9, store,
    )
    t4 = spark.read.parquet(f"{store}/corpus/ingest_batch=9").head()
    assert tpl not in t4["text"] and t4["n_tokens_removed"] == 8


def test_streaming_modelfree_neardup_via_hashed_vectors(spark, tmp_path):
    """Continuous MODEL-FREE near-dup: each micro-batch computes raw-TF
    hashed vectors (per-doc only — no global state, so the featurization
    is batch-order-invariant, unlike tfidf whose global idf makes it a
    scheduled-batch concern per DECISIONS.md) and feeds the embedding
    dedup store: a later batch's verbatim copy of an earlier doc is
    dropped by the cross-batch index probe."""
    from commercepulse_data_pipeline_spark.operators.text import (
        hashed_doc_vectors,
    )
    from commercepulse_data_pipeline_spark.streaming.embeddings import (
        dedup_embeddings_batch,
    )

    store = str(tmp_path / "vstore")

    def feed(rows, bid):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        vecs = hashed_doc_vectors(df, dim=32, weighting="tf").select(
            F.col("doc_id").alias("vec_id"),
            F.col("vector").alias("embedding"),
        )
        dedup_embeddings_batch(vecs, bid, store, tau=0.95, n_planes=4)

    feed([(1, "solar panels convert sunlight into electricity"),
          (2, "sourdough bread rises slowly in a cold kitchen")], 0)
    # batch 1: doc 3 = verbatim copy of doc 1's text (identical TF
    # vector), doc 4 = fresh content
    feed([(3, "solar panels convert sunlight into electricity"),
          (4, "quarterly revenue grew on strong cloud demand")], 1)

    kept = {r["vec_id"]
            for r in spark.read.parquet(f"{store}/vectors").collect()}
    assert 1 in kept and 2 in kept and 4 in kept
    assert 3 not in kept  # cross-batch near-dup dropped by the index


def test_stream_clean_corpus_strip_repeats(spark, tmp_path):
    """strip_repeats streaming twin (r11): within-doc repeated spans are
    spliced per batch BEFORE scrub/dedup — exactly batch-equivalent by
    construction (the decision is doc-local, no cross-batch store), and
    the de-repeated text is what lands in the corpus and drives the
    near-dup banding."""
    import os
    import time

    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.corpus import (
        clean_corpus_batch,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    loop = "call now and subscribe"
    drops = tmp_path / "drops"
    drops.mkdir()
    f1 = str(drops / "b1.parquet")
    f2 = str(drops / "b2.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array([1], type=pa.int64()),
                  "text": [f"real content starts here {loop} more words {loop} end bits"]}),
        f1,
    )
    pq.write_table(
        pa.table({"doc_id": pa.array([2], type=pa.int64()),
                  "text": ["clean second batch doc with nothing repeated at all"]}),
        f2,
    )
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(spark, str(drops), "doc_id long, text string", max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        lambda df, i: clean_corpus_batch(
            df, i, store, max_bucket=100000, strip_repeats=True, repeat_window=4
        ),
    )
    q.awaitTermination(120)

    corpus = {r.doc_id: r.text for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert set(corpus) == {1, 2}
    assert corpus[1].count(loop) == 1              # later occurrence spliced
    assert corpus[1].startswith(f"real content starts here {loop}")
    assert corpus[1].endswith("end bits")
    # batch-equivalence: the batch operator on the same rows produces
    # the identical rewrite (doc-local decision, no cross-batch state)
    import commercepulse_data_pipeline_spark.operators.text as tx

    batch = spark.createDataFrame(
        [(1, f"real content starts here {loop} more words {loop} end bits")],
        "doc_id long, text string",
    )
    twin = tx.strip_intradoc_repeats(batch, window_tokens=4).head()
    # the streaming path scrubs after stripping; this fixture has no PII,
    # so the texts compare verbatim
    assert corpus[1] == twin["text_derepeated"]


@pytest.mark.slow
def test_stream_clean_corpus_quarantine_reasons(spark, tmp_path):
    """Streaming --quarantine twin (r12): each batch's quarantine
    partition carries the FIRST failing stage per dropped doc
    (exact_dup within the batch, near_dup within AND cross-batch);
    quarantine ∪ kept partitions every batch exactly, and a direct
    batch replay overwrites its own partition (idempotent, like the
    corpus/index sinks)."""
    from commercepulse_data_pipeline_spark.streaming.corpus import clean_corpus_batch

    base = "the quick brown fox jumps over the lazy dog again and again today"
    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [
            (1, base),
            (2, base),                          # exact dup of 1 (same batch)
            (3, base + " tonight"),             # within-batch near-dup of 1
            (4, "entirely unrelated first content"),
        ],
        "doc_id long, text string",
    )
    clean_corpus_batch(b0, 0, store, max_bucket=100000, quarantine=True)
    kept0 = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    q0 = {r.doc_id: r.reason for r in
          spark.read.parquet(f"{store}/quarantine/ingest_batch=0").collect()}
    assert kept0 == {1, 4}
    assert q0 == {2: "exact_dup", 3: "near_dup"}
    assert kept0.isdisjoint(q0) and kept0 | set(q0) == {1, 2, 3, 4}

    # batch 1: cross-batch near-dup AND cross-batch exact dup — both
    # report as near_dup (documented taxonomy divergence: in-batch exact
    # dedup can't see earlier batches; the band collision catches both)
    b1 = spark.createDataFrame(
        [
            (10, base + " as well"),            # cross-batch near-dup of 1
            (11, base),                         # cross-batch EXACT dup of 1
            (12, "fresh second batch content"),
        ],
        "doc_id long, text string",
    )
    clean_corpus_batch(b1, 1, store, max_bucket=100000, quarantine=True)
    q1 = {r.doc_id: r.reason for r in
          spark.read.parquet(f"{store}/quarantine/ingest_batch=1").collect()}
    kept_all = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert kept_all == {1, 4, 12}
    assert q1 == {10: "near_dup", 11: "near_dup"}

    # replay batch 1: same quarantine partition, no duplication
    clean_corpus_batch(b1, 1, store, max_bucket=100000, quarantine=True)
    q1_again = [
        (r.doc_id, r.reason)
        for r in spark.read.parquet(f"{store}/quarantine/ingest_batch=1").collect()
    ]
    assert sorted(q1_again) == sorted(q1.items())
    # flag off: no quarantine partition is written for that batch
    b2 = spark.createDataFrame(
        [(20, "third batch totally novel text")], "doc_id long, text string"
    )
    clean_corpus_batch(b2, 2, store, max_bucket=100000)
    import os
    assert not os.path.exists(f"{store}/quarantine/ingest_batch=2")


@pytest.mark.slow
def test_stream_cluster_table_cross_batch_and_replay(spark, tmp_path):
    """cluster_table_batch on a stream (r13): three drops with a near-dup spanning
    batches converge to the SAME cluster table a from-scratch batch
    build over all docs produces; a direct replay of the last batch
    changes nothing (pair derivation excludes the batch's own index
    partition, and folding identical pairs is a CC fixpoint)."""
    from commercepulse_data_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        read_cluster_table,
    )
    from commercepulse_data_pipeline_spark.streaming.clusters import (
        cluster_table_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron")
    drops = [
        [(1, base), (2, "unrelated uno dos tres cuatro cinco seis siete "
                        "ocho nueve diez once doce trece catorce")],
        [(10, base + " tail one"),
         (11, "fresh words maple cedar birch willow aspen poplar "
              "spruce alder rowan hazel elm oak")],
        [(20, base + " tail two"), (21, base + " tail two")],  # in-batch exact pair
    ]
    incoming = str(tmp_path / "incoming")
    import os as _os

    _os.makedirs(incoming)
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
            f"{incoming}/drop{i}", mode="overwrite"
        )
        # nested dirs aren't a stream source: flatten files into incoming/
        for f in _os.listdir(f"{incoming}/drop{i}"):
            if f.endswith(".parquet"):
                _os.rename(f"{incoming}/drop{i}/{f}", f"{incoming}/b{i}_{f}")
        import shutil as _shutil

        _shutil.rmtree(f"{incoming}/drop{i}")

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(spark, incoming, "doc_id long, text string", max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        lambda df, i: cluster_table_batch(df, i, store),
        trigger_once=True,
    )
    q.awaitTermination()

    got = sorted(map(tuple, read_cluster_table(spark, f"{store}/clusters").collect()))
    everything = spark.createDataFrame(
        [r for rows in drops for r in rows], ["doc_id", "text"]
    )
    want = sorted(map(tuple, dedup_clusters(
        minhash_candidate_pairs(everything, "text", "doc_id")
    ).collect()))
    assert got == want
    by_doc = {r[0]: r[1:] for r in got}
    # docs 1,10,20,21 share the base shingles -> one cluster, min id 1
    assert by_doc[10] == (1, 4) and by_doc[21] == (1, 4)

    # direct replay of the LAST batch: table unchanged
    last = spark.createDataFrame(drops[2], ["doc_id", "text"])
    # the stream processed 3 single-file batches: ids 0,1,2
    cluster_table_batch(last, 2, store)
    again = sorted(map(tuple, read_cluster_table(spark, f"{store}/clusters").collect()))
    assert again == got


@pytest.mark.slow
def test_cluster_stream_crash_replay_from_checkpoint(spark, tmp_path):
    """Kill the cluster-table stream AFTER batch 1 folded the table but
    with its bands partition torn away and the table rows STRANDED at
    clusters.old (crash mid-rename-swap, before the checkpoint commit).
    Restarting from the same checkpoint must re-deliver batch 1, adopt
    the stranded rows, and converge to the from-scratch table."""
    import os
    import shutil

    from commercepulse_data_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        read_cluster_table,
    )
    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.clusters import (
        cluster_table_batch,
    )

    drops = _two_doc_drops(tmp_path)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    from commercepulse_data_pipeline_spark.streaming.clusters import (
        cluster_table_batch,
    )

    def crashing(bdf, bid):
        cluster_table_batch(bdf, bid, store, max_bucket=100000)
        if bid == 1:
            # torn crash: bands partition gone AND the swap interrupted
            # between its two renames (rows only reachable at .old)
            shutil.rmtree(f"{store}/index/bands/ingest_batch=1")
            # r14: a successful update now RETAINS .old as the rollback
            # copy, so clear it before simulating the mid-swap strand
            shutil.rmtree(
                f"{store}/clusters/clusters.old", ignore_errors=True
            )
            os.replace(
                f"{store}/clusters/clusters", f"{store}/clusters/clusters.old"
            )
            raise RuntimeError("injected crash before checkpoint commit")

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert not os.path.exists(f"{store}/clusters/clusters")  # mid-swap state

    q2 = batches.start(
        batches.drops(spark, drops, "doc_id long, text string", max_files_per_trigger=1),
        ckpt,
        lambda df, i: cluster_table_batch(df, i, store, max_bucket=100000),
    )
    q2.awaitTermination(120)

    everything = spark.read.parquet(drops)
    want = sorted(map(tuple, dedup_clusters(
        minhash_candidate_pairs(everything, "text", "doc_id", max_bucket=100000)
    ).collect()))
    got = sorted(map(tuple, read_cluster_table(spark, f"{store}/clusters").collect()))
    assert got == want
    # the torn bands partition healed on replay
    assert os.path.exists(f"{store}/index/bands/ingest_batch=1")


def test_stream_clean_corpus_html_and_quality_gate(spark, tmp_path):
    """r15 streaming twins of --html-col / --quality-model: pages
    extract before curation (batch-equivalent: doc-local regex), the
    persisted NB model gates every batch with the classifier_low_quality
    quarantine reason, and a direct batch replay reproduces the same
    partitions (doc-local verdicts are replay-idempotent)."""
    import os

    from commercepulse_data_pipeline_spark.operators import classifier as clf
    from commercepulse_data_pipeline_spark.streaming.corpus import (
        clean_corpus_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    import pyarrow as pa
    import pyarrow.parquet as pq

    good_vocab = "thoughtful analysis of science history culture and ideas"
    spam_vocab = "click here cheap pills casino bonus win free money now"
    labeled = spark.createDataFrame(
        [(f"g{i}", good_vocab, 1) for i in range(6)]
        + [(f"s{i}", spam_vocab, 0) for i in range(6)],
        "doc_id string, text string, label int",
    )
    model_dir = str(tmp_path / "model")
    clf.write_model(
        clf.nb_train(labeled, n_buckets=128), model_dir,
        n_buckets=128, salt="nbq-v1:",
    )

    wrap = '<html><body><div class="nav"><a href="/">home</a> <a href="/b">about</a></div><p>{}</p></body></html>'
    drops = tmp_path / "drops"
    drops.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2], type=pa.int64()),
            "page": [
                wrap.format("a thoughtful analysis of culture science and history"),
                wrap.format("win free money now cheap casino bonus click here"),
            ],
        }),
        str(drops / "b1.parquet"),
    )
    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(spark, str(drops), "doc_id long, page string"),
        str(tmp_path / "ckpt"),
        lambda df, i: clean_corpus_batch(
            df, i, store, max_bucket=100000, quarantine=True,
            html_col="page", quality_model_dir=model_dir,
        ),
    )
    q.awaitTermination(120)

    corpus = spark.read.parquet(f"{store}/corpus")
    kept = {r.doc_id: r.text for r in corpus.collect()}
    assert set(kept) == {1}
    assert "<" not in kept[1] and "home" not in kept[1]  # extracted, chrome gone
    quar = {(r.doc_id, r.reason) for r in
            spark.read.parquet(f"{store}/quarantine").collect()}
    assert quar == {(2, "classifier_low_quality")}

    # direct replay of batch 0 reproduces identical partitions
    before = sorted(map(tuple, spark.read.parquet(
        f"{store}/corpus/ingest_batch=0").collect()))
    batch_df = spark.read.parquet(str(drops / "b1.parquet"))
    clean_corpus_batch(
        batch_df, 0, store, quarantine=True, max_bucket=100000,
        html_col="page", quality_model_dir=model_dir,
    )
    after = sorted(map(tuple, spark.read.parquet(
        f"{store}/corpus/ingest_batch=0").collect()))
    assert after == before
    assert {(r.doc_id, r.reason) for r in spark.read.parquet(
        f"{store}/quarantine").collect()} == quar


def test_stream_text_index_serve_and_replay(spark, tmp_path):
    """text_index_batch on a stream (r15): three document drops build a BM25
    postings store whose indexed top-k equals the scan scorer over the
    full corpus (ranks/docs/n_match/dl exact, scores to 1e-6); a direct
    replay of the last batch reproduces its partitions bit-identically
    and the stats roll-up does NOT double-count (per-batch overwrite)."""
    import os
    import shutil

    from commercepulse_data_pipeline_spark.operators import retrieval as ret
    from commercepulse_data_pipeline_spark.streaming.retrieval import (
        text_index_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    drops = [
        [(1, "spark query engine spark spark"), (2, "pasta recipe basil spark")],
        [(3, ""), (4, "basil basil basil pesto")],
        [(5, "query planner beats hand tuning"), (6, "spark spark spark")],
    ]
    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(f"{incoming}/d{i}")
        for f in os.listdir(f"{incoming}/d{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{incoming}/d{i}/{f}", f"{incoming}/b{i}_{f}")
        shutil.rmtree(f"{incoming}/d{i}")

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(spark, incoming, "doc_id bigint, text string", max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        lambda df, i: text_index_batch(df, i, store, n_buckets=8),
        trigger_once=True,
    )
    q.awaitTermination()

    all_docs = spark.createDataFrame(
        [r for rows in drops for r in rows], "doc_id bigint, text string"
    )
    terms = ["spark", "basil"]
    scan = ret.bm25_topk(all_docs, terms, k=10).collect()
    idx = ret.bm25_topk_indexed(spark, store, terms, k=10).collect()
    assert [(r.rank, r.doc_id, r.n_match, r.dl) for r in idx] == [
        (r.rank, r.doc_id, r.n_match, r.dl) for r in scan
    ]
    for a, b in zip(idx, scan):
        assert abs(a.score - b.score) < 1e-6

    # direct replay of the LAST batch: identical partitions, stats flat
    stats_before = spark.read.parquet(f"{store}/stats").agg(
        F.sum("n"), F.sum("s")
    ).head()
    part_before = sorted(
        map(tuple, spark.read.parquet(
            f"{store}/postings/ingest_batch=2").collect())
    )
    text_index_batch(
        spark.createDataFrame(drops[2], "doc_id bigint, text string"),
        2, store, n_buckets=8,
    )
    stats_after = spark.read.parquet(f"{store}/stats").agg(
        F.sum("n"), F.sum("s")
    ).head()
    part_after = sorted(
        map(tuple, spark.read.parquet(
            f"{store}/postings/ingest_batch=2").collect())
    )
    assert stats_after == stats_before and part_after == part_before

    # a foreign-params batch poisons the store visibly, not silently
    text_index_batch(
        spark.createDataFrame([(7, "x")], "doc_id bigint, text string"),
        3, store, n_buckets=16,
    )
    with pytest.raises(ValueError, match="inconsistent stream-store"):
        ret.bm25_topk_indexed(spark, store, ["x"], k=5)
