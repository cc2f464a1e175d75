"""Structured Streaming tests (SURVEY §2.10): file-source stream over the
daily JSONL landing layout, the incremental gold fold, and the
micro-batch curation/index stores.

All runs use trigger(availableNow=True) so they are bounded and
deterministic under test.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.streaming.ingest import read_event_stream
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
        lambda df, i: clean_corpus_batch(df, i, store),
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
    clean_corpus_batch(batch, 0, store)
    first = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert first == {1, 3}                   # keep-first: lowest id wins

    clean_corpus_batch(batch, 0, store)   # replay
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
    clean_corpus_batch(batch1, 1, store)
    final = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert final == {1, 3}                   # 10 dropped as cross-batch dup


def test_clean_corpus_batch_extends_a_built_minhash_index(spark, tmp_path):
    """write_minhash_index (the cluster-table --index build) writes the
    consolidated partition of the band store clean_corpus_batch grows: a
    stream batch on that store drops the arriving near-dup of an indexed
    doc, keeps the rest and adds its bands as batch 0."""
    from commercepulse_data_pipeline_spark.operators import dedup as dd
    from commercepulse_data_pipeline_spark.streaming.corpus import clean_corpus_batch

    base = "the quick brown fox jumps over the lazy dog again and again today"
    store = str(tmp_path / "store")
    dd.write_minhash_index(
        spark.createDataFrame(
            [(1, base), (2, "completely different content about cooking pasta sauce")],
            "doc_id long, text string",
        ),
        f"{store}/index",
    )
    clean_corpus_batch(
        spark.createDataFrame(
            [(10, base + " tonight"), (11, "nothing like anything indexed before")],
            "doc_id long, text string",
        ),
        0,
        store,
    )
    assert {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()} == {11}
    bands = spark.read.parquet(f"{store}/index/bands")
    assert {
        (r.ingest_batch, r.doc_id)
        for r in bands.select("ingest_batch", "doc_id").distinct().collect()
    } == {(-1, 1), (-1, 2), (0, 11)}


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
        clean_corpus_batch(bdf, bid, store)
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
        lambda df, i: clean_corpus_batch(df, i, store),
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


def _fold_order(eid, etype, oid, created_at):
    from tests.conftest import _env

    return _env(eid, etype, created_at, "vendor_b",
                {"order_id": oid, "customerId": "C1", "totalAmount": 100.0,
                 "state": "confirmed", "created_at": created_at})


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
    from commercepulse_data_pipeline_spark.streaming import gold_upsert as gu
    from tests.conftest import _envelope_frame

    batch0 = _envelope_frame(spark, [
        _fold_order("e1", "order_created", "o1", "2026-01-01T23:00:00Z"),
        _fold_order("e2", "order_created", "o2", "2026-01-01T10:00:00Z"),
    ])
    batch1 = _envelope_frame(
        spark, [_fold_order("e3", "order_updated", "o1", "2026-01-02T01:00:00Z")]
    )
    root = tmp_path_factory.mktemp("date_move")
    store = str(root / "store")
    gu.upsert_gold_batch(batch0, store)
    shutil.copytree(store, str(root / "store0"))

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
        "store0": str(root / "store0"),
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


# ceilings on one fold of date_move_fold's batch 1 plus a payment, set
# from the silver-first fold's counts: 24 jobs; 21-22 janino compilations
# on the second identical fold in a fresh local[4] session, 66 after the
# whole default tier has filled the 100-entry codegen cache (the
# MERGE-based fold before it: 34 jobs, 186 compilations fresh)
_FOLD_JOBS_MAX = 24
_WARM_FOLD_COMPILES_MAX = 100


def test_gold_fold_job_and_codegen_ceilings(spark, date_move_fold, tmp_path):
    """Counters behind the fold's cost: the Spark jobs of one fold (each
    silver table computed once, gold built from the written tables) and
    the janino compilations of a second, identical fold (its generated
    code repeats, so the codegen cache mostly hits)."""
    import shutil

    from commercepulse_data_pipeline_spark.streaming import gold_upsert as gu
    from tests.conftest import _env, _envelope_frame

    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    batch = date_move_fold["batch1"].unionByName(_envelope_frame(spark, [
        _env("p1", "payment_succeeded", "2026-01-02T02:00:00Z", "vendor_b",
             {"payment_id": "P1", "order_id": "o2", "amount": 100.0,
              "status": "success", "paid_at": "2026-01-02T02:00:00Z"}),
    ]))

    def fold(k):
        store = str(tmp_path / f"store{k}")
        shutil.copytree(date_move_fold["store0"], store)
        compiled = codegen.METRIC_COMPILATION_TIME().getCount()
        sc.setJobGroup(f"gold-fold-{k}", "gold fold counters")
        try:
            gu.upsert_gold_batch(batch, store)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        compiled = codegen.METRIC_COMPILATION_TIME().getCount() - compiled
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(f"gold-fold-{k}")), compiled

    jobs, _ = fold(0)
    _, compiled = fold(1)
    assert jobs <= _FOLD_JOBS_MAX, jobs
    assert compiled <= _WARM_FOLD_COMPILES_MAX, compiled


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
    (own-partition exclusion), min_docs counts accumulate ACROSS
    batches, and a single-batch arrival matches ``dedup_passages``."""
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

    # single-batch arrival == batch operator: same rewrite, same removed
    # counts (the within-batch canonical min (doc_id, pos) survives)
    from commercepulse_data_pipeline_spark.operators.text import dedup_passages

    store1 = str(tmp_path / "store1")
    allrows = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    passage_dedup_batch(allrows, 0, store1)
    stream_out = {(r["doc_id"], r["text"], r["n_tokens_removed"])
                  for r in spark.read.parquet(f"{store1}/corpus").collect()}
    batch_out = {(r["doc_id"], r["text_deduped"], r["n_tokens_removed"])
                 for r in dedup_passages(allrows, window_tokens=8, min_docs=2).collect()}
    assert stream_out == batch_out
    assert any(n > 0 for _, _, n in batch_out)


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


def test_passage_fp_index_fold_probe_equality(spark, tmp_path):
    """VERDICT r9 item 4: the passage fp-index's additive row-preserving
    fold (claimed at streaming/passages.py module docstring) holds — the
    per-fingerprint summed counts (the exact input to the duplicate
    decision) are identical before and after a fold and a re-fold that
    subsumes the consolidated partition; and a real batch processed
    against the folded store still splices an indexed passage. The fold's
    crash points are covered by test_maintenance.py's every-point re-fold
    test."""
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
    compact_streaming_index(spark, fp_root, keep_latest=1)
    assert probe() == truth

    # a re-fold subsumes the existing consolidated partition too
    passage_dedup_batch(
        spark.createDataFrame(
            [(14, f"fifth arrival quotes {shared} once more")],
            "doc_id long, text string",
        ),
        4, store,
    )
    truth2 = probe()
    assert truth2 != truth  # the new batch's counts are visible
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
            df, i, store, strip_repeats=True, repeat_window=4
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
    clean_corpus_batch(b0, 0, store, quarantine=True)
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
    clean_corpus_batch(b1, 1, store, quarantine=True)
    q1 = {r.doc_id: r.reason for r in
          spark.read.parquet(f"{store}/quarantine/ingest_batch=1").collect()}
    kept_all = {r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert kept_all == {1, 4, 12}
    assert q1 == {10: "near_dup", 11: "near_dup"}

    # replay batch 1: same quarantine partition, no duplication
    clean_corpus_batch(b1, 1, store, quarantine=True)
    q1_again = [
        (r.doc_id, r.reason)
        for r in spark.read.parquet(f"{store}/quarantine/ingest_batch=1").collect()
    ]
    assert sorted(q1_again) == sorted(q1.items())
    # flag off: no quarantine partition is written for that batch
    b2 = spark.createDataFrame(
        [(20, "third batch totally novel text")], "doc_id long, text string"
    )
    clean_corpus_batch(b2, 2, store)
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
        cluster_table_batch(bdf, bid, store)
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
        lambda df, i: cluster_table_batch(df, i, store),
    )
    q2.awaitTermination(120)

    everything = spark.read.parquet(drops)
    want = sorted(map(tuple, dedup_clusters(
        minhash_candidate_pairs(everything, "text", "doc_id")
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
            df, i, store, quarantine=True,
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
        batch_df, 0, store, quarantine=True,
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
    with pytest.raises(ValueError, match="inconsistent index params"):
        ret.bm25_topk_indexed(spark, store, ["x"], k=5)
