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
    """Shards append independently (the incremental build path); the
    merged summaries over every appended shard keep the MG bound."""
    df = _zipf_docs(spark)
    path = str(tmp_path / "mg")
    for s in range(4):
        sk.write_mg_rollup(
            df.where(F.col("source") == f"src{s}"), path,
            shard_col="source", item_col="token", capacity=8, mode="append",
        )
    sub = sk.heavy_hitters_over_shards(spark, path, shard_col="source", item_col="token")
    ref = df
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


def test_log2_hist_quantiles_error_bound_and_merge(spark):
    """HDR-style log2 histogram rollup: (a) every quantile estimate is
    within the guaranteed relative error 2^-(SUB_BITS+1) of the exact
    inverted-CDF quantile; (b) merging per-shard partials equals building
    one histogram over the union (mergeable-summary property); (c) small
    ticks (< 2^SUB_BITS) land in exact singleton buckets so their
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

    hist = log2_hist_sketch(df, "v", shard_col="shard")
    merged = {
        r["q_label"]: r["est"]
        for r in merge_hist_quantiles(hist, probs).collect()
    }
    direct = {
        r["q_label"]: r["est"]
        for r in merge_hist_quantiles(
            log2_hist_sketch(df, "v"), probs
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
            log2_hist_sketch(small, "v"), probs
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
