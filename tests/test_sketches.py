"""Mergeable HLL sketch rollup tables (operators/sketches.py): one pass
builds per-(day, group) sketches; any date-range distinct query is a
union-merge of persisted kilobyte sketches — never a raw re-scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators import sketches as sk

# HLL at lg_k=12: rsd ≈ 1.04/√4096 ≈ 1.6%; 5σ envelope + small floor
def _tol(exact: int) -> float:
    return max(5 * 1.04 / 4096 ** 0.5 * exact, 2.0)


def _events(spark, n_days=10, users_per_day=300):
    # user u is active on day d iff u % (d+1) == 0 → overlapping cohorts,
    # deterministic exact distincts to verify against
    rows = [
        (f"2026-03-{d+1:02d}", "view", u)
        for d in range(n_days)
        for u in range(users_per_day * 4)
        if u % (d + 1) == 0
    ]
    return spark.createDataFrame(rows, "day string, event_type string, user_id long")


def test_sketch_rollup_range_estimate_within_envelope(spark, tmp_path):
    e = _events(spark)
    path = str(tmp_path / "rollup")
    sk.write_sketch_rollup(e, path, group_cols=["event_type"])

    # one sketch row per (day, group); sketches are small binaries
    rollup = spark.read.parquet(path)
    assert rollup.count() == 10
    assert dict(rollup.dtypes)["key_sketch"] == "binary"

    got = sk.distinct_over_range(
        spark, path, "2026-03-03", "2026-03-07", group_cols=["event_type"]
    ).first()
    ref = e.where((F.col("day") >= "2026-03-03") & (F.col("day") <= "2026-03-07"))
    exact = ref.select("user_id").distinct().count()
    assert got.n_rows == ref.count()  # row counts are exact, not sketched
    assert abs(got.distinct_estimate - exact) <= _tol(exact), (
        got.distinct_estimate, exact,
    )


def test_sketch_rollup_incremental_append(spark, tmp_path):
    """The incremental build path: append each day's sketches separately;
    range queries over the combined store merge across appends."""
    e = _events(spark, n_days=6)
    path = str(tmp_path / "rollup")
    for d in range(6):
        day = f"2026-03-{d+1:02d}"
        sk.write_sketch_rollup(
            e.where(F.col("day") == day), path,
            group_cols=["event_type"], mode="append",
        )
    got = sk.distinct_over_range(
        spark, path, "2026-03-01", "2026-03-06", group_cols=["event_type"]
    ).first()
    exact = e.select("user_id").distinct().count()
    assert abs(got.distinct_estimate - exact) <= _tol(exact)
    # grouping is optional: a global (no-group) rollup also merges
    path2 = str(tmp_path / "rollup_global")
    sk.write_sketch_rollup(e, path2)
    got2 = sk.distinct_over_range(spark, path2, "2026-03-02", "2026-03-04").first()
    ref2 = e.where((F.col("day") >= "2026-03-02") & (F.col("day") <= "2026-03-04"))
    exact2 = ref2.select("user_id").distinct().count()
    assert abs(got2.distinct_estimate - exact2) <= _tol(exact2)


def test_sketch_range_query_prunes_to_rollup_scan(spark, tmp_path):
    """The range query's plan reads the ROLLUP with the day filter pushed
    to the scan — the raw events table appears nowhere."""
    e = _events(spark, n_days=8)
    path = str(tmp_path / "rollup")
    sk.write_sketch_rollup(e, path, group_cols=["event_type"])
    q = sk.distinct_over_range(
        spark, path, "2026-03-02", "2026-03-05", group_cols=["event_type"]
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "day" in plan
    assert plan.count("FileScan") == 1  # rollup only; no raw-event scan


def _zipf_docs(spark):
    """Deterministic Zipf-ish token stream across 4 source shards: token
    t appears ~1/(t+1) as often as token 0, with per-shard jitter so
    shard summaries genuinely disagree."""
    rows = []
    for s in range(4):
        for t in range(60):
            reps = max(1, (400 // (t + 1)) + (7 * s * t) % 5 - 2)
            rows += [(f"src{s}", f"tok{t:02d}")] * reps
    return spark.createDataFrame(rows, "source string, token string")


def test_mg_summary_guarantees_and_merge(spark, tmp_path):
    """The two Misra–Gries invariants survive the shard merge: for every
    item, est <= true <= est + total_offset; and every item whose true
    merged count exceeds total_offset is present in the merged summary."""
    df = _zipf_docs(spark)
    path = str(tmp_path / "mg")
    sk.write_mg_rollup(df, path, shard_col="source", item_col="token", capacity=8)

    merged = {
        r["token"]: r
        for r in sk.heavy_hitters_over_shards(
            spark, path, shard_col="source", item_col="token"
        ).collect()
    }
    exact = {
        r["token"]: r["n"]
        for r in df.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert merged, "merged summary is empty"
    offset = next(iter(merged.values()))["total_offset"]
    n_total = next(iter(merged.values()))["n_total"]
    assert n_total == sum(exact.values())
    for tok, row in merged.items():
        assert row["est"] <= exact[tok] <= row["est"] + offset, (tok, row, exact[tok])
    for tok, true in exact.items():
        if true > offset:
            assert tok in merged, (tok, true, offset)
    # the runaway head token is identified with a tight estimate
    assert max(merged, key=lambda t: merged[t]["est"]) == "tok00"


def test_mg_boundary_ties_drop_by_value_and_keep_offset(spark, tmp_path):
    """A shard whose counts are ALL tied at the boundary keeps zero items
    (ties resolve by value, not rank position) but its c_off still feeds
    the merged error bound — the case that motivates the separate shards
    table."""
    rows = [("flat", f"t{i}") for i in range(6) for _ in range(3)] + [
        ("skewed", "t0")
    ] * 10 + [("skewed", "t1")] * 2
    df = spark.createDataFrame(rows, "source string, token string")
    items, shards = sk.build_mg_summary(
        df, shard_col="source", item_col="token", capacity=3
    )
    flat_items = items.where(F.col("source") == "flat").collect()
    assert flat_items == []  # every count == c_off → all dropped
    offs = {r["source"]: r["c_off"] for r in shards.collect()}
    assert offs["flat"] == 3 and offs["skewed"] == 0  # skewed has <= cap items
    path = str(tmp_path / "mg")
    sk.write_mg_rollup(df, path, shard_col="source", item_col="token", capacity=3)
    got = {
        r["token"]: r
        for r in sk.heavy_hitters_over_shards(
            spark, path, shard_col="source", item_col="token"
        ).collect()
    }
    # t0 true=13 > offset=3 → guaranteed present; envelope: 10 <= 13 <= 13
    assert got["t0"]["est"] == 10 and got["t0"]["total_offset"] == 3


def test_mg_incremental_append_and_shard_filter(spark, tmp_path):
    """Shards append independently (the incremental build path); a shard
    filter prunes both summary scans and tightens the bound to the
    selected shards only."""
    df = _zipf_docs(spark)
    path = str(tmp_path / "mg")
    for s in range(4):
        sk.write_mg_rollup(
            df.where(F.col("source") == f"src{s}"), path,
            shard_col="source", item_col="token", capacity=8, mode="append",
        )
    sub = sk.heavy_hitters_over_shards(
        spark, path, shard_col="source", item_col="token",
        shard_filter=F.col("source").isin("src0", "src1"),
    )
    ref = df.where(F.col("source").isin("src0", "src1"))
    exact = {
        r["token"]: r["n"]
        for r in ref.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows = sub.collect()
    offset = rows[0]["total_offset"]
    assert rows[0]["n_total"] == ref.count()
    for r in rows:
        assert r["est"] <= exact[r["token"]] <= r["est"] + offset


def test_mg_plans_are_scale_shaped(spark, tmp_path):
    """Build plan pushes the per-shard top-(capacity+1) map-side via
    WindowGroupLimit (a hot shard never full-sorts its item set on one
    task); the merge plan touches ONLY the two summary tables."""
    df = _zipf_docs(spark)
    items, _shards = sk.build_mg_summary(
        df, shard_col="source", item_col="token", capacity=8
    )
    build_plan = items._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in build_plan
    path = str(tmp_path / "mg")
    sk.write_mg_rollup(df, path, shard_col="source", item_col="token", capacity=8)
    q = sk.heavy_hitters_over_shards(
        spark, path, shard_col="source", item_col="token"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2  # items + shards; raw data nowhere


def test_stream_mg_rollup_and_retruncating_compaction(spark, tmp_path):
    """Streaming frequent-items: per-batch MG partials append under their
    own ingest_batch partition; the merged envelope holds across batches,
    survives the RE-TRUNCATING compaction (new_off folded into the
    consolidated offset), and the compacted store keeps accepting
    appends + further re-folds with the bound intact."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming.frequent_items import (
        compact_mg_rollup,
        heavy_hitters_from_store,
        mg_rollup_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    drops = tmp_path / "drops"
    drops.mkdir()

    def batch_tokens(seed):
        # token t ~ Zipf with per-batch jitter; 'hot' dominates every batch
        out = ["hot"] * (80 + 13 * seed)
        for t in range(30):
            out += [f"tok{t:02d}"] * max(1, (60 // (t + 1) + (seed * t) % 3) - 1)
        return out

    b1, b2 = batch_tokens(1), batch_tokens(2)
    for name, toks in (("b1.parquet", b1), ("b2.parquet", b2)):
        pq.write_table(pa.table({"token": toks}), str(drops / name))
    now = time.time()
    os.utime(str(drops / "b1.parquet"), (now - 60, now - 60))
    os.utime(str(drops / "b2.parquet"), (now, now))

    store = str(tmp_path / "mg_store")
    q = batches.start(
        batches.drops(spark, str(drops), "token string", max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        lambda df, i: mg_rollup_batch(df, i, store, item_col="token", capacity=8),
    )
    q.awaitTermination(120)
    parts = {e.name for e in os.scandir(store) if e.is_dir()}
    assert parts == {"ingest_batch=0", "ingest_batch=1"}

    from collections import Counter

    def check_envelope(all_toks):
        exact = Counter(all_toks)
        rows = heavy_hitters_from_store(spark, store, item_col="token").collect()
        got = {r["token"]: r for r in rows}
        off = rows[0]["total_offset"]
        assert rows[0]["n_total"] == len(all_toks)
        for tok, r in got.items():
            assert r["est"] <= exact[tok] <= r["est"] + off, (tok, r, exact[tok])
        for tok, true in exact.items():
            if true > off:
                assert tok in got, (tok, true, off)
        assert max(got, key=lambda t: got[t]["est"]) == "hot"
        return off

    check_envelope(b1 + b2)

    stats = compact_mg_rollup(spark, store, capacity=8, keep_latest=0)
    assert stats["folded"] == 2 and stats["partitions_after"] == 1
    # consolidated partition is bounded at capacity item rows + 1 meta row
    cons = spark.read.parquet(os.path.join(store, "ingest_batch=-1"))
    assert cons.where(~F.col("is_meta")).count() <= 8
    check_envelope(b1 + b2)

    # keeps accepting appends; a second re-fold subsumes the old
    # consolidated partition and the envelope still holds
    b3 = batch_tokens(3)
    mg_rollup_batch(
        spark.createDataFrame([(t,) for t in b3], "token string"),
        2, store, item_col="token", capacity=8,
    )
    check_envelope(b1 + b2 + b3)
    stats2 = compact_mg_rollup(spark, store, capacity=8, keep_latest=0)
    assert stats2["folded"] == 1 and stats2["partitions_after"] == 1
    check_envelope(b1 + b2 + b3)


def test_mg_rollup_null_items_counted(spark, tmp_path):
    """A genuine NULL item value in the stream is a countable group (same
    as the batch MG path's groupBy semantics), NOT a meta row: the
    explicit is_meta discriminator keeps its counts in the estimates
    through both the merged read and a re-truncating compaction."""
    import os

    from commercepulse_data_pipeline_spark.streaming.frequent_items import (
        compact_mg_rollup,
        heavy_hitters_from_store,
        mg_rollup_batch,
    )

    store = str(tmp_path / "mg_null_store")
    toks = [None] * 40 + ["a"] * 30 + ["b"] * 5
    mg_rollup_batch(
        spark.createDataFrame([(t,) for t in toks], "token string"),
        0, store, item_col="token", capacity=4,
    )
    rows = heavy_hitters_from_store(spark, store, item_col="token").collect()
    got = {r["token"]: r["est"] for r in rows}
    assert got[None] == 40 and got["a"] == 30
    assert rows[0]["n_total"] == 75

    compact_mg_rollup(spark, store, capacity=4, keep_latest=0)
    rows2 = heavy_hitters_from_store(spark, store, item_col="token").collect()
    got2 = {r["token"]: r["est"] for r in rows2}
    off = rows2[0]["total_offset"]
    assert got2[None] <= 40 <= got2[None] + off
    assert rows2[0]["n_total"] == 75
    # exactly one meta row in the consolidated partition
    cons = spark.read.parquet(os.path.join(store, "ingest_batch=-1"))
    assert cons.where(F.col("is_meta")).count() == 1


def test_fold_marker_torn_write_rolls_back(spark, tmp_path):
    """Crash-recovery hardening: an unparseable _FOLDED.json (torn write
    from a pre-atomic-rename store) is treated as 'commit never
    happened' — recovery rolls BACK via the set-aside dir instead of
    raising JSONDecodeError forever, and the store reads consistently."""
    import os
    import shutil

    from commercepulse_data_pipeline_spark.sources.readers import (
        _recover_index_compact,
    )
    from commercepulse_data_pipeline_spark.streaming.frequent_items import (
        heavy_hitters_from_store,
        mg_rollup_batch,
    )

    store = str(tmp_path / "mg_torn")
    for b, toks in enumerate((["x"] * 10 + ["y"] * 3, ["x"] * 7 + ["z"] * 2)):
        mg_rollup_batch(
            spark.createDataFrame([(t,) for t in toks], "token string"),
            b, store, item_col="token", capacity=4,
        )
    # simulate a crash: batch-0 partition set aside, marker torn, no tmp
    old_root = store + "._fold_old"
    os.makedirs(old_root)
    shutil.move(os.path.join(store, "ingest_batch=0"), old_root)
    with open(os.path.join(old_root, "_FOLDED.json"), "w") as fh:
        fh.write('{"consolidated": "ingest_batch=-1", "fol')  # torn
    with open(os.path.join(old_root, "_FOLDED.json.tmp"), "w") as fh:
        fh.write("{")  # crash mid-write of the atomic tmp, too

    _recover_index_compact(store)
    assert not os.path.exists(old_root)
    assert os.path.isdir(os.path.join(store, "ingest_batch=0"))
    rows = heavy_hitters_from_store(spark, store, item_col="token").collect()
    got = {r["token"]: r["est"] for r in rows}
    assert got["x"] == 17 and rows[0]["n_total"] == 22


def test_stream_sketch_rollup_and_compaction(spark, tmp_path):
    """Streaming form: each micro-batch appends its own partial sketches
    (no cross-batch state — HLL union associativity makes duplicate
    (day, group) partials correct by construction); compaction re-merges
    to one row per (day, group) and range queries agree before, during,
    and after."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming.sketches import (
        compact_sketch_rollup,
        sketch_rollup_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    drops = tmp_path / "drops"
    drops.mkdir()
    # batch 1: days 01-02; batch 2: days 02-03 (day 02 spans batches →
    # partial-merge is actually exercised)
    def write_drop(name, rows):
        pq.write_table(
            pa.table({
                "day": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
            }),
            str(drops / name),
        )

    b1 = [("2026-03-01", "view", u) for u in range(200)] + [
        ("2026-03-02", "view", u) for u in range(100, 300)
    ]
    b2 = [("2026-03-02", "view", u) for u in range(250, 400)] + [
        ("2026-03-03", "view", u) for u in range(350, 500)
    ]
    write_drop("b1.parquet", b1)
    write_drop("b2.parquet", b2)
    now = time.time()
    os.utime(str(drops / "b1.parquet"), (now - 60, now - 60))
    os.utime(str(drops / "b2.parquet"), (now, now))

    store = str(tmp_path / "rollup")
    q = batches.start(
        batches.drops(
            spark, str(drops), "day string, event_type string, user_id long",
            max_files_per_trigger=1,
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: sketch_rollup_batch(df, i, store, group_cols=["event_type"]),
    )
    q.awaitTermination(120)
    parts = {e.name for e in os.scandir(store) if e.is_dir()}
    assert parts == {"ingest_batch=0", "ingest_batch=1"}

    all_rows = b1 + b2
    def exact_between(lo, hi):
        return len({u for d, _t, u in all_rows if lo <= d <= hi})

    got = sk.distinct_over_range(
        spark, store, "2026-03-01", "2026-03-03", group_cols=["event_type"]
    ).first()
    exact = exact_between("2026-03-01", "2026-03-03")
    assert got.n_rows == len(all_rows)
    assert abs(got.distinct_estimate - exact) <= _tol(exact)

    # compact: one row per (day, group); day 02's two partials merged
    stats = compact_sketch_rollup(
        spark, store, group_cols=["event_type"], keep_latest=0
    )
    assert stats["folded"] == 2 and stats["partitions_after"] == 1
    cons = spark.read.parquet(store)
    assert cons.count() == 3  # days 01, 02, 03 — one row each
    got2 = sk.distinct_over_range(
        spark, store, "2026-03-02", "2026-03-03", group_cols=["event_type"]
    ).first()
    exact2 = exact_between("2026-03-02", "2026-03-03")
    assert abs(got2.distinct_estimate - exact2) <= _tol(exact2)

    # the compacted store keeps accepting batch appends
    b3 = [("2026-03-04", "view", u) for u in range(450, 600)]
    sketch_rollup_batch(
        spark.createDataFrame(b3, "day string, event_type string, user_id long"),
        2, store, group_cols=["event_type"],
    )
    all_rows += b3
    got3 = sk.distinct_over_range(
        spark, store, "2026-03-01", "2026-03-04", group_cols=["event_type"]
    ).first()
    exact3 = exact_between("2026-03-01", "2026-03-04")
    assert abs(got3.distinct_estimate - exact3) <= _tol(exact3)


def test_log2_hist_quantiles_error_bound_and_merge(spark):
    """HDR-style log2 histogram rollup: (a) every quantile estimate is
    within the guaranteed relative error 2^-(sub_bits+1) of the exact
    inverted-CDF quantile; (b) merging per-shard partials equals building
    one histogram over the union (mergeable-summary property); (c) small
    ticks (< 2^sub_bits) land in exact singleton buckets so their
    quantiles are EXACT."""
    import random

    from commercepulse_data_pipeline_spark.operators.sketches import (
        log2_hist_sketch,
        merge_hist_quantiles,
    )

    rnd = random.Random(42)
    # heavy-tailed values across many decades + a zero + small ticks
    vals = (
        [0, 1, 2, 3, 63, 64, 65]
        + [rnd.randrange(1, 100) for _ in range(400)]
        + [int(10 ** rnd.uniform(2, 8)) for _ in range(4000)]
    )
    rows = [(f"s{i % 5}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "shard string, v long")
    probs = [("p01", 1, 100), ("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]

    hist = log2_hist_sketch(df, "v", shard_col="shard", sub_bits=6)
    merged = {
        r["q_label"]: r["est"]
        for r in merge_hist_quantiles(hist, probs, sub_bits=6).collect()
    }
    direct = {
        r["q_label"]: r["est"]
        for r in merge_hist_quantiles(
            log2_hist_sketch(df, "v", sub_bits=6), probs, sub_bits=6
        ).collect()
    }
    assert merged == direct  # partial-merge == one-shot build

    xs = sorted(vals)
    for lbl, num, den in probs:
        exact = xs[(num * len(xs) + den - 1) // den - 1]
        est = merged[lbl]
        assert abs(est - exact) <= max(exact, 1) * 2 ** -7, (lbl, est, exact)

    # small-tick regime: every value < 2^6 has a singleton bucket
    small = spark.createDataFrame(
        [(v,) for v in [1, 1, 2, 5, 8, 13, 21, 34, 55]], "v long"
    )
    got = {
        r["q_label"]: r["est"]
        for r in merge_hist_quantiles(
            log2_hist_sketch(small, "v", sub_bits=6), probs, sub_bits=6
        ).collect()
    }
    ys = sorted([1, 1, 2, 5, 8, 13, 21, 34, 55])
    for lbl, num, den in probs:
        assert got[lbl] == ys[(num * len(ys) + den - 1) // den - 1], lbl


def test_hist_rollup_range_query_never_rescans(spark, tmp_path):
    """Persisted histogram rollup answers a shard-range quantile query
    from the bucket table alone; negative ticks are dropped at build
    (documented contract) and the range filter prunes shards."""
    from pyspark.sql import functions as F  # noqa: F811

    from commercepulse_data_pipeline_spark.operators.sketches import (
        hist_quantiles_over_range,
        log2_hist_sketch,
        write_hist_rollup,
    )

    rows = [
        (f"2024-01-{d:02d}", grp, v * (d + i))
        for d in range(1, 11)
        for i, (grp, v) in enumerate(
            [("a", 100), ("a", 250), ("a", 999), ("b", 5), ("b", -7)] * 4
        )
    ]
    df = spark.createDataFrame(rows, "day string, grp string, v long")
    path = str(tmp_path / "hist_rollup")
    write_hist_rollup(df, path, "v", shard_col="day", group_cols=["grp"])

    probs = [("p50", 1, 2), ("p99", 99, 100)]
    got = hist_quantiles_over_range(
        spark, path, "2024-01-03", "2024-01-07", probs,
        shard_col="day", group_cols=["grp"],
    ).collect()
    in_range = [
        (g, v) for (d, g, v) in rows if "2024-01-03" <= d <= "2024-01-07" and v >= 0
    ]
    for r in got:
        xs = sorted(v for g, v in in_range if g == r["grp"])
        num, den = {"p50": (1, 2), "p99": (99, 100)}[r["q_label"]]
        exact = xs[(num * len(xs) + den - 1) // den - 1]
        assert r["n_total"] == len(xs)
        assert abs(r["est"] - exact) <= max(exact, 1) * 2 ** -7, (r, exact)


def test_stream_hist_rollup_and_compaction(spark, tmp_path):
    """Streaming histogram rollup: per-batch bucket partials append under
    their own ingest_batch partition; quantiles from the store stay
    within the guaranteed bound across batches; compaction by count
    addition answers EVERY query identically (exactness asserted, not
    just an envelope); the compacted store keeps accepting appends."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming.histograms import (
        compact_hist_rollup,
        hist_rollup_batch,
        quantiles_from_store,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    drops = tmp_path / "drops"
    drops.mkdir()

    def batch_vals(seed):
        return [
            (f"2024-02-{1 + (i + seed) % 3:02d}", "g%d" % (i % 2), (i * 7919 + seed * 104729) % 3_000_000)
            for i in range(800)
        ]

    b1, b2 = batch_vals(1), batch_vals(2)
    for name, rows in (("b1.parquet", b1), ("b2.parquet", b2)):
        pq.write_table(
            pa.table({
                "day": [r[0] for r in rows],
                "grp": [r[1] for r in rows],
                "v": [r[2] for r in rows],
            }),
            str(drops / name),
        )
    now = time.time()
    os.utime(str(drops / "b1.parquet"), (now - 60, now - 60))
    os.utime(str(drops / "b2.parquet"), (now, now))

    store = str(tmp_path / "hist_store")
    q = batches.start(
        batches.drops(
            spark, str(drops), "day string, grp string, v long",
            max_files_per_trigger=1,
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: hist_rollup_batch(
            df, i, store, value_col="v", shard_col="day", group_cols=["grp"]
        ),
    )
    q.awaitTermination(120)
    parts = {e.name for e in os.scandir(store) if e.is_dir()}
    assert parts == {"ingest_batch=0", "ingest_batch=1"}

    probs = [("p50", 1, 2), ("p99", 99, 100)]

    def check(all_rows):
        got = quantiles_from_store(
            spark, store, probs, shard_col="day", group_cols=["grp"]
        ).collect()
        assert len(got) == 4  # 2 groups x 2 probs
        by = {}
        for r in got:
            xs = sorted(v for d, g, v in all_rows if g == r["grp"])
            num, den = {"p50": (1, 2), "p99": (99, 100)}[r["q_label"]]
            exact = xs[(num * len(xs) + den - 1) // den - 1]
            assert r["n_total"] == len(xs)
            assert abs(r["est"] - exact) <= max(exact, 1) * 2 ** -7, (r, exact)
            by[(r["grp"], r["q_label"])] = r["est"]
        return by

    pre = check(b1 + b2)

    stats = compact_hist_rollup(
        spark, store, shard_col="day", group_cols=["grp"], keep_latest=0
    )
    assert stats["folded"] == 2 and stats["partitions_after"] == 1
    assert check(b1 + b2) == pre  # compaction is EXACT, answers unchanged

    # keeps accepting appends; a second re-fold subsumes the consolidated
    b3 = batch_vals(3)
    hist_rollup_batch(
        spark.createDataFrame(b3, "day string, grp string, v long"),
        2, store, value_col="v", shard_col="day", group_cols=["grp"],
    )
    check(b1 + b2 + b3)
    stats2 = compact_hist_rollup(
        spark, store, shard_col="day", group_cols=["grp"], keep_latest=0
    )
    assert stats2["folded"] == 1 and stats2["partitions_after"] == 1
    post = check(b1 + b2 + b3)
    # shard filter: restricting days changes the population it reflects
    lo = quantiles_from_store(
        spark, store, probs, shard_col="day", group_cols=["grp"],
        shard_filter=F.col("day") == "2024-02-01",
    ).collect()
    for r in lo:
        xs = sorted(
            v for d, g, v in b1 + b2 + b3 if g == r["grp"] and d == "2024-02-01"
        )
        assert r["n_total"] == len(xs)
    assert post  # smoke: merged answers exist after the second fold


# ---------------------------------------------------------------------------
# Bloom-filter membership rollup
# ---------------------------------------------------------------------------


def test_bloom_rollup_no_false_negatives_and_bounded(spark, tmp_path):
    e = _events(spark, n_days=6, users_per_day=50)
    path = str(tmp_path / "bloom")
    # small filter (m=256) so collisions are likely — the no-false-negative
    # guarantee must hold regardless
    sk.write_bloom_rollup(e, path, shard_col="day", key_col="user_id",
                          m_bits=256, k=4)

    rollup = spark.read.parquet(path)
    # sparse bitmap: at most m rows per shard, regardless of input volume
    per_day = rollup.groupBy("day").count().agg(F.max("count")).first()[0]
    assert per_day <= 256

    cands = e.select("user_id").distinct()
    got = sk.membership_over_range(
        spark, path, cands, "2026-03-02", "2026-03-05",
        shard_col="day", key_col="user_id", m_bits=256, k=4,
    )
    truth = (
        e.where((F.col("day") >= "2026-03-02") & (F.col("day") <= "2026-03-05"))
        .groupBy("user_id")
        .agg(F.countDistinct("day").alias("n_true"))
    )
    j = got.join(truth, "user_id", "left").fillna({"n_true": 0}).collect()
    assert len(j) == cands.count()
    # Bloom guarantee: maybe-count is NEVER below the true count
    assert all(r.n_shards_maybe >= r.n_true for r in j)
    # and the range cap holds
    assert all(r.n_shards_maybe <= 4 for r in j)


def test_bloom_rollup_append_is_idempotent(spark, tmp_path):
    """Re-appending the SAME shard must not change any membership verdict
    (bit-OR merge = DISTINCT over position rows)."""
    e = _events(spark, n_days=4, users_per_day=30)
    path = str(tmp_path / "bloom")
    sk.write_bloom_rollup(e, path, shard_col="day", key_col="user_id",
                          m_bits=512, k=4)
    cands = e.select("user_id").distinct()

    def probe():
        return {
            r.user_id: r.n_shards_maybe
            for r in sk.membership_over_range(
                spark, path, cands, "2026-03-01", "2026-03-04",
                shard_col="day", key_col="user_id", m_bits=512, k=4,
            ).collect()
        }

    before = probe()
    # replay one day's build (duplicate rows for that shard)
    sk.write_bloom_rollup(
        e.where(F.col("day") == "2026-03-02"), path,
        shard_col="day", key_col="user_id", m_bits=512, k=4, mode="append",
    )
    assert probe() == before


def test_bloom_absent_candidates_report_zero_or_fp_rate(spark, tmp_path):
    """Candidates never ingested come back with n_shards_maybe ~ 0 when
    the filter is sized sanely (m >> k*n): deterministic, so we assert
    the exact observed FP count stays under a generous bound."""
    e = _events(spark, n_days=3, users_per_day=40)
    path = str(tmp_path / "bloom")
    sk.write_bloom_rollup(e, path, shard_col="day", key_col="user_id",
                          m_bits=1 << 14, k=4)
    absent = spark.range(100000, 100200).select(F.col("id").alias("user_id"))
    got = sk.membership_over_range(
        spark, path, absent, "2026-03-01", "2026-03-03",
        shard_col="day", key_col="user_id", m_bits=1 << 14, k=4,
    ).collect()
    assert len(got) == 200
    # fill ≈ 4*160/16384 ≈ 3.9% → FP rate ≈ 2e-6 per (user, day);
    # expected FPs over 600 probes ≈ 0 — allow a couple for slack
    assert sum(r.n_shards_maybe for r in got) <= 2


def test_stream_bloom_rollup_and_compaction(spark, tmp_path):
    """Streaming Bloom store: per-batch partial bit rows are correct by
    construction (bit-OR idempotence), membership answers are EXACTLY
    identical before/after compaction (no estimate slack at all), and
    the compacted store keeps accepting appends."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.streaming.bloom import (
        bloom_rollup_batch,
        compact_bloom_rollup,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    drops = tmp_path / "drops"
    drops.mkdir()

    def write_drop(name, rows):
        pq.write_table(
            pa.table({
                "day": [r[0] for r in rows],
                "user_id": pa.array([r[1] for r in rows], type=pa.int64()),
            }),
            str(drops / name),
        )

    # day 02 spans both batches; user 150 appears in both (duplicate bits)
    b1 = [("2026-03-01", u) for u in range(100)] + [
        ("2026-03-02", u) for u in range(100, 200)
    ]
    b2 = [("2026-03-02", u) for u in range(150, 250)] + [
        ("2026-03-03", u) for u in range(200, 300)
    ]
    write_drop("b1.parquet", b1)
    write_drop("b2.parquet", b2)
    now = time.time()
    os.utime(str(drops / "b1.parquet"), (now - 60, now - 60))
    os.utime(str(drops / "b2.parquet"), (now, now))

    store = str(tmp_path / "bloom")
    q = batches.start(
        batches.drops(
            spark, str(drops), "day string, user_id long", max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: bloom_rollup_batch(df, i, store, m_bits=2048, k=4),
    )
    q.awaitTermination(120)
    parts = {e.name for e in os.scandir(store) if e.is_dir()}
    assert parts == {"ingest_batch=0", "ingest_batch=1"}

    all_rows = b1 + b2
    cands = spark.range(0, 400).select(F.col("id").alias("user_id"))

    def probe():
        return {
            r.user_id: r.n_shards_maybe
            for r in sk.membership_over_range(
                spark, store, cands, "2026-03-01", "2026-03-03",
                shard_col="day", key_col="user_id", m_bits=2048, k=4,
            ).collect()
        }

    def true_days(u):
        return len({d for d, uu in all_rows if uu == u})

    before = probe()
    assert all(before[u] >= true_days(u) for u in range(400))

    stats = compact_bloom_rollup(spark, store, keep_latest=0)
    assert stats["folded"] == 2 and stats["partitions_after"] == 1
    # bit-OR of bit-ORs: EXACT equality across compaction
    assert probe() == before

    # compacted store keeps accepting appends
    b3 = [("2026-03-04", u) for u in range(300, 350)]
    bloom_rollup_batch(
        spark.createDataFrame(b3, "day string, user_id long"),
        2, store, m_bits=2048, k=4,
    )
    after = {
        r.user_id: r.n_shards_maybe
        for r in sk.membership_over_range(
            spark, store, cands, "2026-03-01", "2026-03-04",
            shard_col="day", key_col="user_id", m_bits=2048, k=4,
        ).collect()
    }
    all_rows += b3
    assert all(
        after[u] >= len({d for d, uu in all_rows if uu == u}) for u in range(400)
    )
    assert all(after[u] >= before[u] for u in range(400))


# ---------------------------------------------------------------------------
# KMV / Theta sketch — set operations
# ---------------------------------------------------------------------------


def test_kmv_sketch_invariants_and_union_idempotence(spark):
    """(a) at most k rows per set, and they are exactly the k smallest
    distinct hashes; (b) kmv_truncate over DUPLICATED partial rows (the
    append/replay case) equals the clean sketch — union-merge is
    idempotent; (c) the union of two sets' sketch rows truncates to the
    exact sketch of the set union (the lossless-union property the
    estimator rests on)."""
    from pyspark.sql import functions as F  # noqa: F811

    from commercepulse_data_pipeline_spark.operators.sketches import (
        build_kmv_rollup,
        kmv_hash,
        kmv_truncate,
    )

    k = 16
    rows = [("A", f"k{i}") for i in range(200)] + [
        ("B", f"k{i}") for i in range(150, 400)
    ]
    df = spark.createDataFrame(rows, "s string, key string")
    sk_rows = build_kmv_rollup(df, set_col="s", key_col="key", k=k)
    got = {
        s: sorted(r["hv"] for r in grp)
        for s, grp in __import__("itertools").groupby(
            sorted(sk_rows.collect(), key=lambda r: r["s"]), key=lambda r: r["s"]
        )
    }
    hv_of = {
        r["key"]: r["hv"]
        for r in df.select("key", kmv_hash(F.col("key")).alias("hv"))
        .distinct()
        .collect()
    }
    for s, keys in [("A", range(200)), ("B", range(150, 400))]:
        expect = sorted({hv_of[f"k{i}"] for i in keys})[:k]
        assert got[s] == expect, s

    doubled = kmv_truncate(sk_rows.union(sk_rows), set_col="s", k=k)
    assert sorted(map(tuple, doubled.collect())) == sorted(
        map(tuple, sk_rows.collect())
    )

    union_from_sketches = sorted(
        r["hv"]
        for r in kmv_truncate(
            sk_rows.select(F.lit("U").alias("s"), "hv"), set_col="s", k=k
        ).collect()
    )
    assert union_from_sketches == sorted({hv_of[f"k{i}"] for i in range(400)})[:k]


def test_kmv_set_overlap_exact_path_and_estimates(spark, tmp_path):
    """Small sets (< k distinct keys total) take the exact path: union_est
    and inter_est ARE the exact counts. Larger sets engage theta and land
    within the 5σ envelope. The pair query reads ONLY the persisted
    sketch table."""
    from commercepulse_data_pipeline_spark.operators.sketches import (
        kmv_set_overlap,
        write_kmv_rollup,
    )

    # exact path: 3 sets, all below k=64
    small = (
        [("x", f"m{i}") for i in range(20)]
        + [("y", f"m{i}") for i in range(10, 40)]
        + [("z", f"m{i}") for i in range(35, 50)]
    )
    df = spark.createDataFrame(small, "s string, key string")
    p1 = str(tmp_path / "kmv_small")
    write_kmv_rollup(df, p1, set_col="s", key_col="key", k=64)
    got = {
        (r["set_a"], r["set_b"]): r
        for r in kmv_set_overlap(spark, p1, set_col="s", k=64).collect()
    }
    expect = {
        ("x", "y"): (40, 10),  # (union, inter)
        ("x", "z"): (35, 0),
        ("y", "z"): (40, 5),
    }
    assert set(got) == set(expect)
    for pair, (u, i) in expect.items():
        r = got[pair]
        assert r["n_kept"] == u and r["union_est"] == float(u), pair
        assert r["n_matches"] == i and r["inter_est"] == float(i), pair

    # estimation path: two 3000-key sets with 1500 shared
    big = [("A", f"b{i}") for i in range(3000)] + [
        ("B", f"b{i}") for i in range(1500, 4500)
    ]
    k = 256
    p2 = str(tmp_path / "kmv_big")
    write_kmv_rollup(
        spark.createDataFrame(big, "s string, key string"),
        p2, set_col="s", key_col="key", k=k,
    )
    (r,) = kmv_set_overlap(spark, p2, set_col="s", k=k).collect()
    assert r["n_kept"] == k
    u_tol = 5.0 / (k - 2) ** 0.5
    i_tol = u_tol + 2.5 / k ** 0.5
    assert abs(r["union_est"] - 4500) <= u_tol * 4500 + 2
    assert abs(r["inter_est"] - 1500) <= i_tol * 4500 + 2


def test_kmv_build_plan_pushes_group_limit_map_side(spark):
    """The per-set rank<=k truncation compiles to WindowGroupLimit (a hot
    set never full-sorts its distinct-hash space on one task), same
    guarantee as the MG and sampling tiers."""
    from commercepulse_data_pipeline_spark.operators.sketches import build_kmv_rollup

    df = spark.createDataFrame(
        [("s", f"k{i}") for i in range(100)], "s string, key string"
    )
    plan = build_kmv_rollup(df, set_col="s", key_col="key", k=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_stream_kmv_rollup_and_compaction(spark, tmp_path):
    """Streaming KMV store: each micro-batch appends its own per-set
    partial sketch (per-batch truncation is lossless because the k
    smallest of a union come from the parts' k smallest); the live store
    answers set ops identically to a one-shot batch build, compaction
    re-truncates to one k-row sketch per set, and the compacted store
    keeps accepting appends."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.operators.sketches import (
        build_kmv_rollup,
        kmv_truncate,
    )
    from commercepulse_data_pipeline_spark.streaming.kmv import (
        compact_kmv_rollup,
        kmv_rollup_batch,
        kmv_sketches_from_store,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    k = 16
    drops = tmp_path / "drops"
    drops.mkdir()

    def write_drop(name, rows):
        pq.write_table(
            pa.table({
                "event_type": [r[0] for r in rows],
                "ukey": [r[1] for r in rows],
            }),
            str(drops / name),
        )

    # set A spans both batches (overlapping keys exercise DISTINCT merge)
    b1 = [("A", f"k{i}") for i in range(120)] + [("B", f"k{i}") for i in range(60)]
    b2 = [("A", f"k{i}") for i in range(80, 200)] + [
        ("B", f"k{i}") for i in range(40, 90)
    ]
    write_drop("b1.parquet", b1)
    write_drop("b2.parquet", b2)
    now = time.time()
    os.utime(str(drops / "b1.parquet"), (now - 60, now - 60))

    store = str(tmp_path / "kmv_store")
    q = batches.start(
        batches.drops(
            spark, str(drops), "event_type string, ukey string", max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: kmv_rollup_batch(
            df, i, store, set_col="event_type", key_col="ukey", k=k
        ),
    )
    q.awaitTermination(120)
    assert {e.name for e in os.scandir(store) if e.is_dir()} == {
        "ingest_batch=0", "ingest_batch=1"
    }

    all_df = spark.createDataFrame(b1 + b2, "event_type string, ukey string")
    want = sorted(
        map(tuple, build_kmv_rollup(
            all_df, set_col="event_type", key_col="ukey", k=k
        ).collect())
    )
    got = sorted(
        map(tuple, kmv_sketches_from_store(
            spark, store, set_col="event_type", k=k
        ).collect())
    )
    assert got == want  # streaming partials == one-shot batch sketch

    stats = compact_kmv_rollup(spark, store, set_col="event_type", k=k, keep_latest=0)
    assert stats["folded"] == 2 and stats["partitions_after"] == 1
    # consolidated store: exactly k rows per set, same sketch
    cons = spark.read.parquet(store)
    assert cons.groupBy("event_type").count().rdd.map(
        lambda r: r["count"]
    ).collect() == [k, k]
    got2 = sorted(
        map(tuple, kmv_truncate(cons, set_col="event_type", k=k).collect())
    )
    assert got2 == want

    # post-compaction append still merges correctly
    b3 = [("B", f"z{i}") for i in range(50)]
    kmv_rollup_batch(
        spark.createDataFrame(b3, "event_type string, ukey string"),
        2, store, set_col="event_type", key_col="ukey", k=k,
    )
    want3 = sorted(
        map(tuple, build_kmv_rollup(
            spark.createDataFrame(b1 + b2 + b3, "event_type string, ukey string"),
            set_col="event_type", key_col="ukey", k=k,
        ).collect())
    )
    got3 = sorted(
        map(tuple, kmv_sketches_from_store(
            spark, store, set_col="event_type", k=k
        ).collect())
    )
    assert got3 == want3


def test_stream_kmv_crash_replay_from_checkpoint(spark, tmp_path):
    """Kill the KMV stream AFTER batch 1's partition landed but BEFORE
    the checkpoint commit (the replay-duplication window). The restart
    re-delivers batch 1, which OVERWRITES its own partition — and even
    if it had appended, readers' DISTINCT + re-truncate makes duplicate
    partials harmless. Final store must equal the one-shot batch
    sketch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from commercepulse_data_pipeline_spark.operators.sketches import build_kmv_rollup
    from commercepulse_data_pipeline_spark.streaming.kmv import (
        kmv_rollup_batch,
        kmv_sketches_from_store,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    k = 8
    drops = tmp_path / "drops"
    drops.mkdir()
    b1 = [("A", f"k{i}") for i in range(40)]
    b2 = [("A", f"k{i}") for i in range(20, 80)] + [("B", f"z{i}") for i in range(30)]
    for name, rows in (("b1", b1), ("b2", b2)):
        pq.write_table(
            pa.table({"event_type": [r[0] for r in rows],
                      "ukey": [r[1] for r in rows]}),
            str(drops / f"{name}.parquet"),
        )
    import os
    import time
    now = time.time()
    os.utime(str(drops / "b1.parquet"), (now - 60, now - 60))

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def crashing(bdf, bid):
        kmv_rollup_batch(bdf, bid, store, set_col="event_type", key_col="ukey", k=k)
        if bid == 1:
            raise RuntimeError("injected crash before checkpoint commit")

    q = (
        spark.readStream.schema("event_type string, ukey string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drops))
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    # batch 1's write IS durable (landed before the crash)
    assert os.path.isdir(f"{store}/ingest_batch=1")

    q2 = batches.start(
        batches.drops(
            spark, str(drops), "event_type string, ukey string", max_files_per_trigger=1
        ),
        ckpt,
        lambda df, i: kmv_rollup_batch(
            df, i, store, set_col="event_type", key_col="ukey", k=k
        ),
    )
    q2.awaitTermination(120)
    want = sorted(map(tuple, build_kmv_rollup(
        spark.createDataFrame(b1 + b2, "event_type string, ukey string"),
        set_col="event_type", key_col="ukey", k=k,
    ).collect()))
    got = sorted(map(tuple, kmv_sketches_from_store(
        spark, store, set_col="event_type", k=k
    ).collect()))
    assert got == want


def test_kmv_set_overlap_explicit_pairs(spark, tmp_path):
    """set_pairs restricts the pair fan-out to caller-chosen candidates
    (the thousands-of-sets escape hatch) and returns values identical to
    the all-pairs default for the requested pairs."""
    from commercepulse_data_pipeline_spark.operators.sketches import (
        kmv_set_overlap,
        write_kmv_rollup,
    )

    rows = [(s, f"{s}{i}" if s != "B" else f"A{i}")
            for s in ("A", "B", "C") for i in range(30)]
    df = spark.createDataFrame(rows, "s string, key string")
    p = str(tmp_path / "kmv")
    write_kmv_rollup(df, p, set_col="s", key_col="key", k=64)
    full = {
        (r["set_a"], r["set_b"]): tuple(r)
        for r in kmv_set_overlap(spark, p, set_col="s", k=64).collect()
    }
    pairs = spark.createDataFrame([("A", "B")], "set_a string, set_b string")
    got = kmv_set_overlap(spark, p, set_col="s", k=64, set_pairs=pairs).collect()
    assert len(got) == 1
    assert tuple(got[0]) == full[("A", "B")]
    assert got[0]["n_matches"] == 30  # B duplicates A's keys exactly


def test_kmv_set_overlap_tag_join_is_equi_only(spark, tmp_path):
    """The sketch-row tag step is a union of two EQUI-joins, never the
    disjunctive (__set==set_a)|(__set==set_b) predicate Spark would plan
    as a nested-loop join: with explicit set_pairs the whole plan is
    hash-join-only at any pair count."""
    from commercepulse_data_pipeline_spark.operators.sketches import (
        kmv_set_overlap,
        write_kmv_rollup,
    )

    rows = [(s, f"{s}{i}") for s in ("A", "B", "C", "D") for i in range(20)]
    df = spark.createDataFrame(rows, "s string, key string")
    p = str(tmp_path / "kmv")
    write_kmv_rollup(df, p, set_col="s", key_col="key", k=32)
    pairs = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "D")], "set_a string, set_b string"
    )
    out = kmv_set_overlap(spark, p, set_col="s", k=32, set_pairs=pairs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert out.count() == 3


def test_compact_kmv_rollup_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """Kill compact_kmv_rollup at its commit point (marker written,
    consolidated partition not yet renamed in): the next call rolls
    FORWARD via the shared fold protocol and the sketch answers are
    unchanged."""
    import os

    import pytest as _pytest

    from commercepulse_data_pipeline_spark.streaming.kmv import (
        compact_kmv_rollup,
        kmv_rollup_batch,
        kmv_sketches_from_store,
    )

    k = 8
    store = str(tmp_path / "kmv_store")
    for bid in range(3):
        kmv_rollup_batch(
            spark.createDataFrame(
                [("A", f"k{bid * 30 + i}") for i in range(60)],
                "event_type string, ukey string",
            ),
            bid, store, set_col="event_type", key_col="ukey", k=k,
        )
    before = sorted(map(tuple, kmv_sketches_from_store(
        spark, store, set_col="event_type", k=k
    ).collect()))

    real_rename = os.rename
    cons_dst = os.path.join(store, "ingest_batch=-1")

    def crashing(src, dst):
        if str(dst) == cons_dst:
            raise RuntimeError("injected crash at commit point")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing)
    with _pytest.raises(RuntimeError, match="commit point"):
        compact_kmv_rollup(spark, store, set_col="event_type", k=k, keep_latest=0)
    monkeypatch.undo()
    assert os.path.exists(store + "._fold_old/_FOLDED.json")
    assert not os.path.exists(cons_dst)

    stats = compact_kmv_rollup(spark, store, set_col="event_type", k=k, keep_latest=0)
    assert os.path.exists(cons_dst)
    assert not os.path.exists(store + "._fold_old")
    after = sorted(map(tuple, kmv_sketches_from_store(
        spark, store, set_col="event_type", k=k
    ).collect()))
    assert after == before
    assert stats["partitions_after"] >= 1


def _hist_probe(spark, store):
    from commercepulse_data_pipeline_spark.streaming.histograms import (
        quantiles_from_store,
    )

    return sorted(map(tuple, quantiles_from_store(
        spark, store, [("p50", 1, 2), ("p99", 99, 100)],
        shard_col="day", group_cols=["grp"],
    ).collect()))


def test_probe_during_in_flight_hist_fold_exact(spark, tmp_path, monkeypatch):
    """A monitoring job probing the histogram store CONCURRENTLY with (or
    after a crash of) compaction reads the exact pre-fold answer at every
    resting point of the fold protocol — including the two windows where
    a naive read is provably wrong for count-summing sketches:

    - pre-commit (old consolidated set aside, no marker): naive read
      UNDER-counts (the consolidated rows are invisible);
    - post-commit after rename-in, folded dirs not yet deleted: naive
      read DOUBLE-counts (consolidated + partials both visible).
    """
    import os
    import shutil

    import pytest as _pytest

    from commercepulse_data_pipeline_spark.streaming.histograms import (
        compact_hist_rollup,
        hist_rollup_batch,
    )

    store = str(tmp_path / "hist_store")
    for bid in range(3):
        rows = [("2024-02-%02d" % (1 + i % 3), "g%d" % (i % 2),
                 (i * 7919 + bid * 104729) % 3_000_000) for i in range(400)]
        hist_rollup_batch(
            spark.createDataFrame(rows, "day string, grp string, v long"),
            bid, store, value_col="v", shard_col="day", group_cols=["grp"],
        )
    # fold #1 completes: store now has a consolidated partition
    compact_hist_rollup(spark, store, shard_col="day", group_cols=["grp"],
                        keep_latest=1)
    rows4 = [("2024-02-01", "g0", i * 13) for i in range(200)]
    hist_rollup_batch(
        spark.createDataFrame(rows4, "day string, grp string, v long"),
        3, store, value_col="v", shard_col="day", group_cols=["grp"],
    )
    truth = _hist_probe(spark, store)

    # -- window 1: PRE-COMMIT. Crash fold #2 at the marker rename: the old
    # consolidated sits in ._fold_old, no marker yet.
    real_rename = os.rename

    def crash_marker(src, dst):
        if str(dst).endswith("_FOLDED.json"):
            raise RuntimeError("injected crash before commit")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_marker)
    with _pytest.raises(RuntimeError, match="before commit"):
        compact_hist_rollup(spark, store, shard_col="day",
                            group_cols=["grp"], keep_latest=0)
    monkeypatch.undo()
    assert os.path.isdir(store + "._fold_old/ingest_batch=-1")
    assert not os.path.exists(store + "._fold_old/_FOLDED.json")
    assert _hist_probe(spark, store) == truth  # roll-back view
    # full recovery + fold: answers unchanged, store clean again
    compact_hist_rollup(spark, store, shard_col="day", group_cols=["grp"],
                        keep_latest=0)
    assert _hist_probe(spark, store) == truth
    assert not os.path.exists(store + "._fold_old")

    # -- window 2: POST-COMMIT, consolidated still in tmp. The store is
    # clean pre-fold, so the only rename to the consolidated root path is
    # _fold_commit's rename-in — crash there.
    rows5 = [("2024-02-02", "g1", i * 17) for i in range(200)]
    hist_rollup_batch(
        spark.createDataFrame(rows5, "day string, grp string, v long"),
        4, store, value_col="v", shard_col="day", group_cols=["grp"],
    )
    truth2 = _hist_probe(spark, store)

    def crash_cons(src, dst):
        if str(dst) == os.path.join(store, "ingest_batch=-1"):
            raise RuntimeError("injected crash at commit point")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_cons)
    with _pytest.raises(RuntimeError, match="commit point"):
        compact_hist_rollup(spark, store, shard_col="day",
                            group_cols=["grp"], keep_latest=0)
    monkeypatch.undo()
    assert os.path.exists(store + "._fold_old/_FOLDED.json")
    assert not os.path.isdir(os.path.join(store, "ingest_batch=-1"))
    assert _hist_probe(spark, store) == truth2  # roll-forward view (tmp)

    # -- window 3: POST-COMMIT, consolidated renamed in, folded dirs not
    # yet deleted (the double-count window). The next compact's implicit
    # recovery renames the consolidated in, then deletes folded dirs —
    # crash at the first folded-dir delete.
    real_rmtree = shutil.rmtree

    def crash_rmtree(path, *a, **kw):
        if "ingest_batch=" in str(path) and "._fold" not in str(path):
            raise RuntimeError("injected crash before folded-dir delete")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", crash_rmtree)
    with _pytest.raises(RuntimeError, match="folded-dir delete"):
        compact_hist_rollup(spark, store, shard_col="day",
                            group_cols=["grp"], keep_latest=0)
    monkeypatch.undo()
    # the poisoned state: consolidated AND its folded sources both on disk
    assert os.path.isdir(os.path.join(store, "ingest_batch=-1"))
    leftover = [e for e in os.listdir(store)
                if e.startswith("ingest_batch=") and e != "ingest_batch=-1"]
    assert leftover, "expected folded dirs still present"
    assert _hist_probe(spark, store) == truth2  # no double count
    # and after full recovery the answers are still identical
    compact_hist_rollup(spark, store, shard_col="day", group_cols=["grp"],
                        keep_latest=0)
    assert _hist_probe(spark, store) == truth2


def test_probe_during_in_flight_kmv_fold_exact(spark, tmp_path, monkeypatch):
    """Same contract for the KMV store, probed through BOTH readers
    (kmv_sketches_from_store and the kmv_set_overlap estimates): exact
    pre-fold answers in the pre-commit window, where a naive read would
    lose the set-aside consolidated partition's hashes entirely."""
    import os

    import pytest as _pytest

    from commercepulse_data_pipeline_spark.operators.sketches import (
        kmv_set_overlap,
    )
    from commercepulse_data_pipeline_spark.streaming.kmv import (
        compact_kmv_rollup,
        kmv_rollup_batch,
        kmv_sketches_from_store,
    )

    k = 8
    store = str(tmp_path / "kmv_store")
    for bid in range(2):
        kmv_rollup_batch(
            spark.createDataFrame(
                [(s, f"k{bid * 30 + i}") for s in ("A", "B") for i in range(40)]
                + [("B", f"x{bid * 9 + i}") for i in range(9)],
                "event_type string, ukey string",
            ),
            bid, store, set_col="event_type", key_col="ukey", k=k,
        )
    compact_kmv_rollup(spark, store, set_col="event_type", k=k, keep_latest=1)
    kmv_rollup_batch(
        spark.createDataFrame([("A", f"z{i}") for i in range(25)],
                              "event_type string, ukey string"),
        2, store, set_col="event_type", key_col="ukey", k=k,
    )

    def probe():
        sk = sorted(map(tuple, kmv_sketches_from_store(
            spark, store, set_col="event_type", k=k).collect()))
        ov = sorted(map(tuple, kmv_set_overlap(
            spark, store, set_col="event_type", k=k).collect()))
        return sk, ov

    truth = probe()
    real_rename = os.rename

    def crash_marker(src, dst):
        if str(dst).endswith("_FOLDED.json"):
            raise RuntimeError("injected crash before commit")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_marker)
    with _pytest.raises(RuntimeError, match="before commit"):
        compact_kmv_rollup(spark, store, set_col="event_type", k=k,
                           keep_latest=0)
    monkeypatch.undo()
    assert os.path.isdir(store + "._fold_old/ingest_batch=-1")
    assert probe() == truth  # pre-commit roll-back view, both readers
    compact_kmv_rollup(spark, store, set_col="event_type", k=k, keep_latest=0)
    assert probe() == truth
