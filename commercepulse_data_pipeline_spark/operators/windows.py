"""Window/sessionization operators.

The reference has no window functions (SURVEY §2.8) — its only windowed
pattern is the rank-1 dedup. Our engine exposes the standard analytic
window family plus gap-based sessionization, the workhorse of event
analytics that the reference's daily-batch design could not express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from commercepulse_data_pipeline_spark.functions.pins import pin


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap from the
    previous event of the same user exceeds ``gap_minutes``.

    Classic two-window shape (lag → boundary flag → cumulative sum), one
    shuffle on user_id. session_id = user_id || '#' || session ordinal —
    deterministic, join-able. At 100 TB: the user_id shuffle is the cost;
    pre-bucketing the event table by user_id makes it free.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc())
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w))
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0))
    return (
        df.withColumn("__new_session", is_new)
        .withColumn("session_seq", F.sum("__new_session").over(w))
        .withColumn(
            "session_id", F.concat_ws("#", F.col(user_col).cast("string"), F.col("session_seq").cast("string"))
        )
        .drop("__new_session")
    )


def session_stats(sessions: DataFrame, user_col: str = "user_id", ts_col: str = "ts") -> DataFrame:
    """Per-session aggregate: bounds, event count, duration (whole seconds,
    micros-floor — engine-reproducible arithmetic)."""
    return sessions.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        ((F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))) / F.lit(1_000_000))
        .cast("long")
        .alias("duration_sec"),
    )


def ordered_funnel(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Greedy ordered event funnel: per user, step 1 matches the EARLIEST
    event of its type, and each later step matches the user's earliest
    event of its type STRICTLY AFTER the previous step's match — the
    deterministic greedy-from-first semantics funnel products default to
    (documented choice: a later step-1 event is never revisited, so a
    window constraint applied downstream is evaluated against the first
    entry only). Returns one row per user who reached step 1, with
    ``t1..tk`` timestamps, NULL from the first unreached step onward.

    Scale shape: each step filters to its own (selective) event type
    BEFORE joining, so state per user per step is one timestamp — never a
    per-user event-list materialization (hot users/bots don't skew a
    collect buffer). k-1 left joins + conditional-min aggregates, all
    hash-partitioned on the user key with map-side-combined mins; no
    window over the raw stream, no pair space.
    """
    if not steps:
        raise ValueError("ordered_funnel needs at least one step")
    cur = (
        events.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    for k in range(2, len(steps) + 1):
        nxt = events.where(F.col("event_type") == steps[k - 1]).select(
            "user_id", F.col("ts").alias("__ts")
        )
        prev_cols = ["user_id", *[f"t{i}" for i in range(1, k)]]
        cur = (
            cur.join(nxt, "user_id", "left")
            .groupBy(*prev_cols)
            .agg(
                F.min(
                    F.when(F.col("__ts") > F.col(f"t{k - 1}"), F.col("__ts"))
                ).alias(f"t{k}")
            )
        )
    return cur


def robust_anomalies(
    df: DataFrame,
    value_col: str,
    order_col: str,
    *,
    k_mad: int = 3,
    pin_input: bool = True,
) -> DataFrame:
    """Median/MAD outlier flags over an INTEGER-valued series — the
    robust anomaly gate (a 10× revenue day, a collapsed-volume day) that
    a mean/stddev z-score misses because outliers drag the mean itself.

    median = exact inverted-CDF rank ceil(n/2); MAD = median of
    |x - median|; a row is anomalous when |x - median| > k·MAD
    (k·MAD floored at 1 tick so an all-identical series flags nothing
    instead of everything). Every step is integer arithmetic — no float
    percentile, no stddev — so flags replay exactly cross-engine.

    Scale note: the unpartitioned rank windows run over the SERIES rows,
    which for the daily-grain series this exists for are calendar-bounded
    (years × 365), not data-volume-bounded — a single task sorting a few
    thousand rows, after the upstream aggregate did the data-sized work.
    For per-group series at scale, pre-partition by group and apply per
    group.

    ``pin_input`` (default True) lineage-cuts the input series so the
    three branches below don't re-execute the caller's upstream
    aggregate. The pin MATERIALIZES the series in executor storage, so
    it is only safe under the operator's bounded-series CONTRACT
    (calendar-grain rows, not data-volume rows — the same bound the
    single-task rank windows already require). A caller feeding an
    unbounded or streaming frame must pass ``pin_input=False`` (and
    accept the re-scan) or pre-aggregate to a bounded grain first
    (ADVICE r15: the unconditional pin was a misuse trap)."""
    # The series feeds three branches (median rank, deviation rank, the
    # flag projection); without a lineage cut the caller's upstream
    # per-day aggregate re-executes per branch — q_revenue_anomalies
    # scanned orders 4× (r15 optimization pass). The series is
    # calendar-bounded by contract, so the pin costs kilobytes; lazy —
    # the median's broadcast build is the first action over it.
    if pin_input:
        df = pin(df, eager=False)
    v = F.col(value_col).cast("long")
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w1 = Window.orderBy(v.asc(), F.col(order_col).asc())
    ranked = df.withColumn("__rnk", F.row_number().over(w1)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    med = ranked.where(
        F.col("__rnk") == F.expr("(__n + 1) div 2")
    ).select(v.alias("__med"))
    with_med = df.crossJoin(F.broadcast(med)).withColumn(
        "__dev", F.abs(v - F.col("__med"))
    )
    w2 = Window.orderBy(F.col("__dev").asc(), F.col(order_col).asc())
    ranked2 = with_med.withColumn("__rnk", F.row_number().over(w2)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    mad = ranked2.where(
        F.col("__rnk") == F.expr("(__n + 1) div 2")
    ).select(F.col("__dev").alias("__mad"))
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            "*",
            (
                F.col("__dev")
                > F.lit(k_mad) * F.greatest(F.col("__mad"), F.lit(1))
            )
            .cast("int")
            .alias("is_anomaly"),
        )
        .withColumnRenamed("__med", "median_value")
        .withColumnRenamed("__dev", "abs_dev")
        .withColumnRenamed("__mad", "mad_value")
    )
