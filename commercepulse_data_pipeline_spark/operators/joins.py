"""Join operators (reference §2.6 J1-J3) with scale-aware strategy hints.

The reference's joins are pandas ``isin`` membership checks — O(groups ×
rows) rescans (reference src/transformer.py:140,144). Here each is a single
declarative join; Catalyst/AQE picks broadcast-hash vs sort-merge at
runtime. Dimension sides get an explicit ``broadcast()`` hint where we know
they're small (at 100 TB the facts are huge, dims are not)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Set-membership restriction (reference J2: ``isin`` against a group's
    order ids, src/transformer.py:140,144). left_semi never widens rows."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Anti-membership (reference J3 orphan detection,
    src/quality_report.py:61-66)."""
    return left.join(right, on=on, how="left_anti")


def orphans(child: DataFrame, parent: DataFrame, key: str, *, broadcast_parent: bool = False) -> DataFrame:
    """Referential-integrity orphans: child rows whose key has no parent.
    ``broadcast_parent`` for small parents (a key-only projection is pushed
    first so only the join key shuffles/broadcasts)."""
    parent_keys = parent.select(key).dropDuplicates([key])
    if broadcast_parent:
        parent_keys = F.broadcast(parent_keys)
    return child.join(parent_keys, on=key, how="left_anti")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    *,
    bin_seconds: int,
) -> DataFrame:
    """Binned point-in-interval join: each ``points`` row pairs with every
    ``intervals`` row whose ``[start_ts, end_ts)`` contains ``point_ts``
    (the right edge is open). The reference has no
    range operator at all — its nearest is a same-day equi-join
    (src/transformer.py:140) — but time-window attribution over an events
    stream needs the real thing.

    Scale shape: WITHOUT equi keys Spark plans ``p.ts BETWEEN i.s AND i.e``
    as a nested-loop join — O(points × intervals), dead at 100 TB. Here
    both sides are assigned fixed-width time bins (``bin_seconds``): a
    point lands in exactly one bin, an interval is exploded to every bin it
    overlaps, and the join becomes a plain equi-join on the bin that
    sort-merges/AQE-coalesces like any other. Each qualifying (point,
    interval) pair meets in exactly one bin — the point's — so no
    post-join dedup is needed. Pick ``bin_seconds`` on the order of the
    typical interval length: an interval spans ``len/bin + 1`` bins, so a
    too-small bin multiplies the exploded side, a too-large bin widens the
    residual filter's false-candidate band. Sub-second timestamp fractions
    only affect the exact residual predicate, never bin assignment
    (bins floor via unix seconds), so ``bin_seconds >= 1`` is exact.

    Returns point columns + interval columns (caller resolves name clashes
    by renaming beforehand; a clash raises).
    """
    clash = set(points.columns) & set(intervals.columns)
    if clash:
        raise ValueError(f"range_join column clash (rename first): {sorted(clash)}")
    if bin_seconds < 1:
        raise ValueError("bin_seconds must be >= 1")
    w = F.lit(int(bin_seconds))
    p = points.withColumn("__bin", F.floor(F.unix_timestamp(F.col(point_ts)) / w))
    i = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_ts)) / w),
                F.floor(F.unix_timestamp(F.col(end_ts)) / w),
            )
        ),
    )
    joined = p.join(i, on="__bin", how="inner").where(
        (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) < F.col(end_ts))
    )
    return joined.drop("__bin")


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    *,
    bin_seconds: int,
) -> DataFrame:
    """Binned interval-overlap join: each left row pairs with every right
    row whose half-open interval overlaps it — ``l.start < r.end AND
    r.start < l.end`` (concurrency analysis, session collision, booking
    conflicts). Same scale argument as :func:`range_join`: keyless overlap
    predicates plan as nested-loop joins; binning turns them into one
    equi-join on the bin.

    Interval×interval needs one extra trick vs point-in-interval: both
    sides explode to every bin they touch, so an overlapping pair shares
    EVERY bin their overlap spans. Emitting on the single bin that
    contains the overlap's start — ``floor(greatest(l.start, r.start) /
    w)``, which both sides' bin ranges provably cover — keeps each pair
    exactly once with no post-join dedup shuffle.
    """
    clash = set(left.columns) & set(right.columns)
    if clash:
        raise ValueError(f"overlap_join column clash (rename first): {sorted(clash)}")
    if bin_seconds < 1:
        raise ValueError("bin_seconds must be >= 1")
    w = F.lit(int(bin_seconds))

    def binned(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(s)) / w),
                    F.floor(F.unix_timestamp(F.col(e)) / w),
                )
            ),
        )
    l = binned(left, left_start, left_end)
    r = binned(right, right_start, right_end)
    meet_bin = F.floor(
        F.unix_timestamp(F.greatest(F.col(left_start), F.col(right_start))) / w
    )
    joined = l.join(r, on="__bin", how="inner").where(
        (F.col(left_start) < F.col(right_end))
        & (F.col(right_start) < F.col(left_end))
        & (F.col("__bin") == meet_bin)
    )
    return joined.drop("__bin")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: each left row gets the most recent right-side
    values with ``right_ts <= left_ts`` for its key (e.g. the FX rate in
    effect on a transaction's date — the reference has no as-of operator;
    its late-arrival check is a plain equi-join, SURVEY §2.6).

    Scale shape: UNION + forward-fill window, not a range join — both
    inputs shuffle ONCE on the key, each partition does a single ordered
    sweep, and no (left × right-candidates) intermediate ever exists.
    Ties (right_ts == left_ts) take the right row (inclusive backward).
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in set(key_cols) | {right_ts}
    ]
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(f"asof_join value columns collide with left columns: {sorted(clash)}")
    from pyspark.sql import Window

    l = left.withColumn("__is_left", F.lit(1)).withColumn("__asof_ts", F.col(left_ts))
    # The value columns travel as ONE struct so the most recent right row
    # wins atomically — filling each column independently with
    # last(ignorenulls) would backfill a NULL field of the latest right row
    # from an OLDER row, mixing fields across right rows (pandas merge_asof
    # takes the latest row wholesale, NULLs included).
    r = right.select(
        *key_cols,
        F.col(right_ts).alias("__asof_ts"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__asof_row"),
    ).withColumn("__is_left", F.lit(0))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("__asof_ts").asc_nulls_first(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("__asof_row", F.last("__asof_row", ignorenulls=True).over(w))
    return filled.where(F.col("__is_left") == 1).select(
        *[c for c in left.columns],
        *[F.col(f"__asof_row.{c}").alias(c) for c in value_cols],
    )
