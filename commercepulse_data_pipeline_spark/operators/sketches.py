"""Mergeable sketch rollup tables (Apache DataSketches HLL via Spark's
built-in ``hll_sketch_agg`` family).

THE 100 TB distinct-counting pattern: you cannot answer "distinct users
between any two dates" from a daily ``countDistinct`` table (distincts
don't add), and re-scanning raw events per dashboard query is a full-table
pass. A sketch rollup stores one mergeable HLL sketch per (day, group) —
built in ONE pass over raw events, map-side combined like any algebraic
aggregate — and answers any date-range distinct query by unioning a few
hundred kilobyte-sized sketches, never touching raw data again. Estimates
carry the standard HLL relative error (~1.04/√2^lg_k ≈ 1.6% at
lg_k=12).

The reference has no sketch surface at all (single-node pandas counts
exactly); this is the extension tier's scale path, the same role
``approx_count_distinct`` plays inline — but PERSISTED and re-mergeable,
so the one expensive pass is paid once.

Everything here is JVM-side Catalyst (the sketch functions are built-in
aggregates); no UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.sampling import hash_bucket


def build_sketch_rollup(
    events: DataFrame,
    *,
    day_col: str = "day",
    group_cols: list[str] | None = None,
    key_col: str = "user_id",
) -> DataFrame:
    """One row per (day, *group_cols): a mergeable HLL sketch of
    ``key_col`` plus the exact row count. One shuffle on the rollup key;
    the sketch aggregate combines map-side like a sum."""
    groups = [day_col, *(group_cols or [])]
    return events.groupBy(*groups).agg(
        F.hll_sketch_agg(F.col(key_col).cast("string"), F.lit(12)).alias("key_sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def write_sketch_rollup(
    events: DataFrame,
    path: str,
    *,
    day_col: str = "day",
    group_cols: list[str] | None = None,
    key_col: str = "user_id",
    mode: str = "overwrite",
) -> None:
    """Persist the rollup as parquet (sketches are plain binary columns).
    Append mode supports incremental daily builds: duplicate (day, group)
    rows from reruns are harmless because readers union-merge sketches —
    HLL union is idempotent for the same underlying keys."""
    build_sketch_rollup(
        events, day_col=day_col, group_cols=group_cols, key_col=key_col
    ).write.mode(mode).parquet(path)


def distinct_over_range(
    spark: SparkSession,
    path: str,
    start_day,
    end_day,
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct-key estimate per group over [start_day, end_day]: filters
    the rollup (partition/row-group pruning — days are the sort key) and
    union-merges the day sketches. Touches only kilobytes per group, no
    raw data. Fold-aware read (``fold_consistent_read``): pointing this
    at a live streaming store mid-compaction still reads a consistent
    view; on a plain batch rollup it is a normal partitioned read."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    rollup = fold_consistent_read(spark, path).where(
        (F.col("day") >= F.lit(start_day)) & (F.col("day") <= F.lit(end_day))
    )
    groups = group_cols or []
    agg = rollup.groupBy(*groups).agg(
        F.hll_union_agg("key_sketch").alias("merged"),
        F.sum("n_rows").alias("n_rows"),
    )
    return agg.select(
        *groups,
        F.hll_sketch_estimate("merged").alias("distinct_estimate"),
        "n_rows",
    )


# ---------------------------------------------------------------------------
# Mergeable frequent-items (Misra–Gries) rollup
# ---------------------------------------------------------------------------
#
# The frequent-items twin of the HLL rollup above: one BOUNDED summary per
# shard (a day, a source, an ingest batch …), built in one pass, mergeable
# by plain addition — so "top tokens across any subset of shards" is
# answered from kilobytes without re-scanning the corpus. The classic
# Misra–Gries summary built from exact per-shard counts keeps the top
# ``capacity`` items with the (capacity+1)-th count subtracted from each
# (Misra & Gries 1982; mergeability per Agarwal et al., "Mergeable
# Summaries", PODS 2012). Guarantees carried through any union of shards:
#
#   est(item) <= true(item) <= est(item) + total_offset
#   every item with true(item) > total_offset appears in the merged summary
#
# where total_offset = Σ per-shard c_off. Everything is deterministic
# (ties at the capacity boundary resolve by VALUE, not position), so the
# whole pipeline — build, merge, envelope — replays bit-identically in a
# SQL oracle.


def build_mg_summary(
    df: DataFrame,
    *,
    shard_col: str,
    item_col: str,
    capacity: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Per-shard Misra–Gries summaries from exact per-shard counts.

    Returns ``(items, shards)``:

    - ``items``: one row per (shard, kept item) with ``est`` = exact
      count minus that shard's ``c_off``;
    - ``shards``: one row per shard with its ``c_off`` (the subtracted
      (capacity+1)-th largest count, 0 when the shard has <= capacity
      distinct items) and exact ``n_items`` total. Kept separate because
      a shard whose counts are all tied at ``c_off`` keeps NO items —
      its offset must still contribute to the merged error bound.

    Scale shape: the raw data collapses to (shard, item) counts with
    map-side combine first; the per-shard ranking then runs over DISTINCT
    items only, and the ``rank <= capacity+1`` filter is pushed map-side
    by WindowGroupLimit (plan-asserted in tests) — so a hot shard never
    sorts its full item set on one task beyond the group-limit k-heap.

    Boundary ties resolve by value: every item whose count equals
    ``c_off`` is dropped (est would be 0), so the kept set and every est
    are independent of tie ordering — the property the DuckDB oracle
    relies on.
    """
    counts = df.groupBy(shard_col, item_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(shard_col).orderBy(F.desc("cnt"), F.col(item_col))
    top = counts.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= capacity + 1
    )
    coff = top.where(F.col("rn") == capacity + 1).select(
        shard_col, F.col("cnt").alias("c_off")
    )
    totals = df.groupBy(shard_col).agg(F.count(F.lit(1)).alias("n_items"))
    shards = totals.join(coff, shard_col, "left").select(
        shard_col,
        F.coalesce(F.col("c_off"), F.lit(0)).cast("long").alias("c_off"),
        "n_items",
    )
    items = (
        top.join(shards.select(shard_col, "c_off"), shard_col)
        .where(F.col("cnt") > F.col("c_off"))
        .select(
            shard_col,
            item_col,
            (F.col("cnt") - F.col("c_off")).cast("long").alias("est"),
        )
    )
    return items, shards


def write_mg_rollup(
    df: DataFrame,
    path: str,
    *,
    shard_col: str,
    item_col: str,
    capacity: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist the per-shard summaries as two parquet tables under
    ``path/items`` and ``path/shards``. Append mode supports incremental
    per-shard builds (a new day / ingest batch appends its own rows);
    re-appending the SAME shard would double-count — pair appends with
    the idempotent upsert path if reruns are possible."""
    items, shards = build_mg_summary(
        df, shard_col=shard_col, item_col=item_col, capacity=capacity
    )
    items.write.mode(mode).parquet(os.path.join(path, "items"))
    shards.write.mode(mode).parquet(os.path.join(path, "shards"))


def merge_mg_summaries(
    items: DataFrame, shards: DataFrame, *, item_col: str
) -> DataFrame:
    """Core Misra–Gries union: merged ``est`` per item (sum — absent
    shards contribute 0) with the error bound columns ``total_offset``
    (Σ c_off of the given shards) and ``n_total`` (Σ exact shard sizes).

    Every returned row satisfies est <= true <= est + total_offset, and
    any item whose true merged count exceeds ``total_offset`` is
    guaranteed present."""
    bounds = shards.agg(
        F.sum("c_off").alias("total_offset"), F.sum("n_items").alias("n_total")
    )
    merged = items.groupBy(item_col).agg(F.sum("est").alias("est"))
    return merged.crossJoin(F.broadcast(bounds))


def heavy_hitters_over_shards(
    spark: SparkSession,
    path: str,
    *,
    shard_col: str,
    item_col: str,
) -> DataFrame:
    """:func:`merge_mg_summaries` over a persisted two-table rollup
    (:func:`write_mg_rollup`) for any shard subset. Touches only the
    summary tables, never raw data."""
    items = spark.read.parquet(os.path.join(path, "items"))
    shards = spark.read.parquet(os.path.join(path, "shards"))
    return merge_mg_summaries(items, shards, item_col=item_col)


# ---------------------------------------------------------------------------
# Mergeable log2 value-histogram (HDR-histogram-style) quantile rollup
# ---------------------------------------------------------------------------
#
# The quantile member of the mergeable-sketch triad (HLL distincts above,
# Misra-Gries frequent items, and this): one BOUNDED histogram per shard
# over a non-negative integer "tick" value (money in cents, latency in
# micros), built in one pass, mergeable by plain count addition — so "p99
# over any date range / shard subset" is answered from kilobytes without
# re-scanning raw data, the way HdrHistogram answers latency quantiles in
# production telemetry.
#
# Binning is HDR-style: each power-of-two decade [2^m, 2^(m+1)) splits
# into 2^SUB_BITS equal linear buckets, so every bucket's relative width
# is <= 2^-SUB_BITS and the midpoint estimate carries a GUARANTEED
# relative error <= 2^-(SUB_BITS+1) (ticks below 2^SUB_BITS get exact
# singleton buckets). Bucket count is bounded by ~64 * 2^SUB_BITS rows
# per shard regardless of data volume.
#
# Everything is INTEGER arithmetic (msb via base-2 string length, shifts,
# exact rational ranks ceil(num*total/den) — never float log or float
# rank), so build, merge, selection, and the error-envelope flag replay
# bit-identically in a SQL oracle on any engine.
SUB_BITS = 6


def log2_hist_sketch(
    df: DataFrame,
    value_col: str,
    *,
    shard_col: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """One histogram per (shard, *group_cols): rows of (..., bin_lo,
    cnt) where ``bin_lo`` is the bucket's inclusive lower tick. The
    value column must be a non-negative integral tick count (convert
    money through DECIMAL cents first — float binning would not be
    cross-engine-deterministic); negative ticks are dropped (callers own
    sign handling, same posture as the HLL rollup's NULL keys).

    One shuffle on (shard, groups, bin) with map-side combine; the
    bucket id needs only integer ops: msb from the base-2 digit count,
    ``shift = max(msb - SUB_BITS, 0)``, ``bin_lo = (v >> shift) <<
    shift``."""
    v = F.col(value_col).cast("long")
    keys = [*([shard_col] if shard_col else []), *(group_cols or [])]
    # shift amounts are COLUMNS, so the shifts go through SQL exprs (the
    # python shiftleft/shiftright helpers take only literal bit counts)
    return (
        df.where(v >= 0)
        .select(*keys, v.alias("__v"))
        .withColumn("__msb", F.length(F.conv(F.col("__v"), 10, 2)) - F.lit(1))
        .withColumn("__shift", F.greatest(F.col("__msb") - F.lit(SUB_BITS), F.lit(0)))
        .withColumn(
            "bin_lo",
            F.expr("shiftleft(shiftrightunsigned(__v, __shift), __shift)"),
        )
        .groupBy(*keys, "bin_lo")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_hist_quantiles(
    hist: DataFrame,
    probs: list[tuple[str, int, int]],
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates per group from (a union of) histogram partials:
    merge by summing bucket counts, then for each ``(label, num, den)``
    probability (an exact rational — a float ``p * total`` rank would
    round differently across engines) select the first bucket whose
    cumulative count reaches ``rank = ceil(num * total / den)`` and
    return its integer midpoint as ``est``.

    The inverted-CDF quantile value lives in the selected bucket by
    construction (bucket order = value order), so
    ``|est - exact| <= 2^(shift-1)`` — relative error <= 2^-(SUB_BITS+1).
    Output: (*group_cols, q_label, est, n_total)."""
    groups = group_cols or []
    merged = hist.groupBy(*groups, "bin_lo").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy(*[F.col(g) for g in groups]).orderBy("bin_lo")
    cum = merged.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy(*[F.col(g) for g in groups]))
    )
    probs_arr = F.array(
        *[
            F.struct(
                F.lit(lbl).alias("q_label"),
                F.lit(int(num)).alias("num"),
                F.lit(int(den)).alias("den"),
            )
            for lbl, num, den in probs
        ]
    )
    e = (
        cum.select(
            *groups, "bin_lo", "cnt", "cum", "total", F.explode(probs_arr).alias("q")
        )
        # exact integer rank: ceil(num * total / den) without float division
        .withColumn(
            "__rank", F.expr("(q.num * total + q.den - 1) div q.den")
        )
        .withColumn("__msb", F.length(F.conv(F.col("bin_lo"), 10, 2)) - F.lit(1))
        .withColumn("__shift", F.greatest(F.col("__msb") - F.lit(SUB_BITS), F.lit(0)))
        .withColumn(
            "__mid_off",
            F.when(
                F.col("__shift") > 0,
                F.expr("shiftleft(1L, __shift - 1) - 1L"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    return (
        e.where(
            (F.col("cum") >= F.col("__rank"))
            & (F.col("cum") - F.col("cnt") < F.col("__rank"))
        )
        .select(
            *groups,
            F.col("q.q_label").alias("q_label"),
            (F.col("bin_lo") + F.col("__mid_off")).cast("long").alias("est"),
            F.col("total").alias("n_total"),
        )
    )


def write_hist_rollup(
    df: DataFrame,
    path: str,
    value_col: str,
    *,
    shard_col: str,
    group_cols: list[str] | None = None,
) -> None:
    """Persist per-shard histogram partials as parquet, replacing the
    rollup (counts are not union-idempotent like HLL: duplicate shard
    rows would DOUBLE-COUNT)."""
    log2_hist_sketch(
        df, value_col, shard_col=shard_col, group_cols=group_cols
    ).write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Mergeable Bloom-filter membership rollup
# ---------------------------------------------------------------------------
#
# The membership member of the mergeable-sketch family (HLL distincts,
# Misra-Gries frequent items, log2-histogram quantiles, and this): one
# BOUNDED Bloom filter per shard (a day, a source, an ingest batch ...),
# built in one pass, mergeable by bit-OR — so "was key X (maybe) active in
# any shard of this range" is answered from kilobyte filters without
# re-scanning raw data. Guarantees: NO false negatives ever; false
# positives at rate ~ fill^k where fill = 1 - exp(-k*n/m).
#
# Representation: the m-bit filter is stored SPARSELY as its set bit
# positions, one (shard, pos) row each — at most m rows per shard no
# matter the data volume, and bit-OR merge is just DISTINCT over a union
# of rows (associative, commutative, IDEMPOTENT — so replayed/duplicated
# partials are harmless, the same property the HLL store leans on).
# Bit positions come from md5 (uint32 of the first 8 hex chars, mod m,
# k independent salts) — engine-reproducible per the DECISIONS.md hash
# rule, so build, probe, and verdict replay bit-identically in the
# DuckDB oracle.


def bloom_positions(key: Column, *, m_bits: int, k: int) -> Column:
    """Array of ``k`` deterministic bit positions in [0, m_bits) for a
    key: ``uint32(md5(i || ':' || key)) % m_bits`` for i in 0..k-1. May
    contain duplicates (hash collisions within a key) — membership
    checks compare against the DISTINCT count."""
    return F.array(
        *[
            F.pmod(hash_bucket(key, salt=f"{i}:"), F.lit(m_bits))
            for i in range(k)
        ]
    )


def build_bloom_rollup(
    df: DataFrame,
    *,
    shard_col: str,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """One sparse Bloom filter per shard: the DISTINCT (shard, pos) rows
    over every key's k positions. One shuffle (the distinct) with
    map-side partial aggregation; output is bounded by ``m_bits`` rows
    per shard regardless of input volume. NULL keys are dropped (same
    posture as the HLL rollup's NULL handling)."""
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            shard_col,
            F.explode(
                bloom_positions(F.col(key_col), m_bits=m_bits, k=k)
            ).alias("pos"),
        )
        .distinct()
    )


def write_bloom_rollup(
    df: DataFrame,
    path: str,
    *,
    shard_col: str,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 4,
    mode: str = "overwrite",
) -> None:
    """Persist the sparse filters as parquet. Append mode supports
    incremental per-shard builds, and — unlike the histogram rollup —
    re-appending the SAME shard is harmless: readers de-duplicate
    (shard, pos), and bit-OR is idempotent."""
    build_bloom_rollup(
        df, shard_col=shard_col, key_col=key_col, m_bits=m_bits, k=k
    ).write.mode(mode).parquet(path)


def membership_over_range(
    spark: SparkSession,
    path: str,
    candidates: DataFrame,
    start_shard,
    end_shard,
    *,
    shard_col: str,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Per candidate key: on how many shards in [start_shard, end_shard]
    the key is MAYBE present (all k of its bits set — never a false
    negative). Touches only the kilobyte filter table, never raw data.

    Output: (key_col, n_shards_maybe). Candidates absent from every
    filter report 0 (left join back). Scale shape: the filter side is
    <= m_bits rows per shard after pruning; the probe side is
    |candidates| * k rows — broadcast when small, shuffle-join on
    ``pos`` otherwise (AQE decides; no forced hint). Fold-aware read for
    live streaming stores (the bit-OR DISTINCT makes duplicates harmless,
    but the pre-commit window would otherwise HIDE the set-aside
    consolidated partition's bits — a false negative, the one error class
    a Bloom filter must never produce)."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    rollup = (
        fold_consistent_read(spark, path)
        .where(
            (F.col(shard_col) >= F.lit(start_shard))
            & (F.col(shard_col) <= F.lit(end_shard))
        )
        .select(shard_col, "pos")
        .distinct()  # partials from append/streaming merge by bit-OR here
    )
    probes = (
        candidates.select(
            key_col,
            F.array_distinct(
                bloom_positions(F.col(key_col), m_bits=m_bits, k=k)
            ).alias("__ps"),
        )
        .withColumn("n_pos", F.size("__ps"))
        .select(key_col, "n_pos", F.explode("__ps").alias("pos"))
    )
    hit_days = (
        probes.join(rollup, "pos")
        .groupBy(key_col, shard_col, "n_pos")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .where(F.col("n_hit") == F.col("n_pos"))
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_shards_maybe"))
    )
    return candidates.select(key_col).distinct().join(hit_days, key_col, "left").select(
        key_col,
        F.coalesce(F.col("n_shards_maybe"), F.lit(0)).cast("long").alias(
            "n_shards_maybe"
        ),
    )


def hist_quantiles_over_range(
    spark: SparkSession,
    path: str,
    start_shard,
    end_shard,
    probs: list[tuple[str, int, int]],
    *,
    shard_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Range quantiles from the persisted rollup: filter shards
    (partition/row-group pruning), merge bucket counts, select. Touches
    only the kilobyte histogram table, never raw data. Fold-aware read:
    counts are not duplicate-idempotent, so probing a live streaming
    store mid-compaction needs the consistent view."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    rollup = fold_consistent_read(spark, path).where(
        (F.col(shard_col) >= F.lit(start_shard)) & (F.col(shard_col) <= F.lit(end_shard))
    )
    return merge_hist_quantiles(rollup, probs, group_cols=group_cols)


# ---------------------------------------------------------------------------
# Mergeable KMV (k-minimum-values / Theta) sketch — set INTERSECTIONS
# ---------------------------------------------------------------------------
#
# The set-operation member of the mergeable-sketch family (HLL distincts,
# Misra-Gries frequent items, log2-histogram quantiles, Bloom membership,
# and this). HLL answers |A ∪ B| but cannot answer |A ∩ B| or Jaccard —
# the classic audience-overlap / cohort-intersection question. A KMV
# sketch (Bar-Yossef et al. 2002; the Theta sketch of Dasu et al. /
# Apache DataSketches generalizes it) keeps the k SMALLEST distinct hash
# values of a set; because "the k smallest of A ∪ B" is a subset of
# "(k smallest of A) ∪ (k smallest of B)", sketches union losslessly, and
# the fraction of the union sketch's entries that belong to both operands
# estimates the Jaccard similarity directly:
#
#   union_est = (k-1) * 2^32 / theta      (theta = k-th smallest hash)
#   inter_est = (matches / k) * union_est (matches = union-sketch entries
#                                          present in BOTH operand sketches)
#
# with rsd(union_est) ~ 1/sqrt(k-2). Unlike HLL, every step here is a
# deterministic function of md5-derived 32-bit integers (DECISIONS.md
# hash rule) — distinct, order-by, count — so build, union, intersection,
# and the estimates themselves replay bit-identically in a SQL oracle.
# Sketch rows are plain (set, hv) integers: union-merge = DISTINCT, which
# makes replayed/duplicated partials harmless (same idempotence the Bloom
# store leans on), and re-truncation to k rows is one windowed rank that
# WindowGroupLimit pushes map-side.


def kmv_hash(key: Column) -> Column:
    """Deterministic 32-bit hash in [0, 2^32) for KMV ordering:
    ``uint32(md5('kmv-v1:' || key))`` — engine-reproducible per the
    DECISIONS.md hash rule."""
    return hash_bucket(key, salt="kmv-v1:")


def build_kmv_rollup(
    df: DataFrame,
    *,
    set_col: str,
    key_col: str,
    k: int = 128,
) -> DataFrame:
    """One KMV sketch per set: the ``k`` smallest DISTINCT hash values of
    ``key_col``, as plain (set, hv) rows — at most ``k`` rows per set no
    matter the data volume. NULL keys are dropped (same posture as the
    HLL/Bloom rollups).

    Scale shape: the raw data collapses to distinct (set, hv) first (one
    shuffle with map-side partial aggregation); the ``rank <= k`` filter
    then runs over distinct hashes only and is pushed map-side by
    WindowGroupLimit — a hot set never sorts its full key space on one
    task beyond the group-limit k-heap."""
    hv = (
        df.where(F.col(key_col).isNotNull())
        .select(F.col(set_col), kmv_hash(F.col(key_col)).alias("hv"))
        .distinct()
    )
    w = Window.partitionBy(set_col).orderBy("hv")
    return (
        hv.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(set_col, "hv")
    )


def write_kmv_rollup(
    df: DataFrame,
    path: str,
    *,
    set_col: str,
    key_col: str,
    k: int = 128,
) -> None:
    """Persist the sketches as parquet, replacing the rollup. Readers
    DISTINCT and re-truncate, so duplicated rows are harmless: the k
    smallest of a multiset union equal the k smallest of the set union."""
    build_kmv_rollup(df, set_col=set_col, key_col=key_col, k=k).write.mode(
        "overwrite"
    ).parquet(path)


def kmv_truncate(sketch: DataFrame, *, set_col: str, k: int) -> DataFrame:
    """Re-assert the KMV invariant over (possibly duplicated / appended)
    sketch rows: distinct hv per set, k smallest kept. This IS the
    union-merge: feeding it the concatenation of two sets' sketch rows
    under one set label yields the exact sketch of the union."""
    w = Window.partitionBy(set_col).orderBy("hv")
    return (
        sketch.select(set_col, "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(set_col, "hv")
    )


def kmv_set_overlap(
    spark: SparkSession,
    path: str,
    *,
    set_col: str,
    k: int = 128,
    set_pairs: DataFrame | None = None,
) -> DataFrame:
    """Union / intersection / Jaccard estimates for EVERY pair of sets
    (set_a < set_b) from the persisted sketch table alone — raw data is
    never re-scanned. Output per pair:

    - ``n_kept``  rows in the pair's union sketch (== k unless both sets
      are small, in which case the estimates are exact counts),
    - ``theta``   the k-th smallest union hash (the Theta threshold),
    - ``n_matches`` union-sketch entries present in BOTH operand sketches,
    - ``union_est`` / ``inter_est`` the estimates, rounded to 4 dp.

    Everything is integer arithmetic until the final two divisions, which
    both engines execute as the same IEEE double ops — so the estimates
    hash-check exactly against a SQL replay.

    Scale shape: sketches are <= k rows per set, so the pair fan-out is
    |pairs| * k kilobyte-rows; the per-pair re-rank is WindowGroupLimit-
    pushed. The expensive thing — scanning raw data — happened once, at
    build time. Default pairing is EVERY pair (|sets|^2/2 — fine for
    tens-to-hundreds of sets); with thousands of sets pass ``set_pairs``
    (columns set_a < set_b) to restrict to the candidates a caller
    actually needs — the sketch table itself stays |sets| * k rows either
    way. Fold-aware read: works against a live streaming KMV store
    mid-compaction (plain partitioned read on a batch rollup)."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    sk_rows = kmv_truncate(
        fold_consistent_read(spark, path), set_col=set_col, k=k
    ).select(F.col(set_col).alias("__set"), "hv")
    if set_pairs is not None:
        pairs = set_pairs.select("set_a", "set_b").where(
            F.col("set_a") < F.col("set_b")
        ).distinct()
    else:
        sets = sk_rows.select(F.col("__set").alias("set_a")).distinct()
        pairs = sets.crossJoin(
            sk_rows.select(F.col("__set").alias("set_b")).distinct()
        ).where(F.col("set_a") < F.col("set_b"))
    # tag each sketch row with which operand(s) of the pair it came from,
    # collapse duplicate hashes (hv in both operands -> one union row with
    # both flags), then re-truncate to the union's k smallest. The tag is
    # a UNION of two equi-joins (pairs ⋈ sk on set_a, pairs ⋈ sk on
    # set_b) — a disjunctive (__set == set_a) | (__set == set_b) predicate
    # would plan as a nested-loop join, which is exactly the wrong shape
    # at high pair counts; this form stays hash-join-only however many
    # pairs the caller asks for.
    cols = [
        F.col("set_a"),
        F.col("set_b"),
        F.col("hv"),
    ]
    tagged = pairs.join(sk_rows, F.col("__set") == F.col("set_a")).select(
        *cols, F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    ).unionByName(
        pairs.join(sk_rows, F.col("__set") == F.col("set_b")).select(
            *cols, F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
        )
    )
    un = tagged.groupBy("set_a", "set_b", "hv").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w = Window.partitionBy("set_a", "set_b").orderBy("hv")
    unk = un.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    agg = unk.groupBy("set_a", "set_b").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("hv").alias("theta"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_matches"),
    )
    num = F.lit((k - 1) * (1 << 32)).cast("double")
    u_raw = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(num / F.col("theta").cast("double"))
    # exact path: n_kept < k means NO hash was discarded (both operand
    # sets fit entirely), so the counts ARE the answers — theta never
    # engaged and scaling by matches/k would be wrong
    i_raw = F.when(
        F.col("n_kept") < k, F.col("n_matches").cast("double")
    ).otherwise((F.col("n_matches").cast("double") / F.lit(float(k))) * u_raw)
    return agg.select(
        "set_a",
        "set_b",
        "n_kept",
        "theta",
        "n_matches",
        F.round(u_raw, 4).alias("union_est"),
        F.round(i_raw, 4).alias("inter_est"),
    )
