"""Skew mitigation: salted aggregation and the skew report.

AQE's skew-join splitting (on in `session.get_spark`) handles skewed
sort-merge joins at runtime, but hot-key aggregation still needs explicit
salting at 100 TB: one key with billions of rows lands on one reducer.
Salting splits it into N partial groups (extra map-side fan-out is free —
partial aggregation already runs per partition), then a second tiny
aggregation merges the N partials. ``skew_report`` measures whether a
key needs it.

Both are pure DataFrame transforms — no RDDs, no custom partitioner.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _content_salt(df: DataFrame, salt_cols: list[str] | None, buckets: int) -> Column:
    """Deterministic salt in [0, buckets): Murmur3 over the row's content.

    NOT ``F.rand(seed)``: rand is seeded per-partition, so a task retry or
    a repartition re-salts rows differently — at odds with this repo's
    determinism discipline (cf. operators/sampling.py, which exists
    because of exactly this). A content hash gives the same row the same
    salt on every run, engine, and partitioning. Caveat: bit-identical
    rows share a salt bucket — if the hot key's rows are exact duplicates
    rather than merely key-equal, exact-dedup them first (that is the
    cheaper fix anyway).

    By default every hashable column feeds the hash; MapType columns are
    skipped (``F.hash`` rejects maps — unordered entries have no stable
    hash). Pass ``salt_cols`` explicitly to narrow."""
    from pyspark.sql.types import MapType

    if salt_cols is None:
        cols = [f.name for f in df.schema.fields if not isinstance(f.dataType, MapType)]
    else:
        cols = list(salt_cols)
    if not cols:
        raise ValueError(
            "content salt needs at least one non-map column "
            "(all columns are MapType, or salt_cols is empty)"
        )
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(buckets)).cast("int")


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, Callable[[Column], Column], Callable[[Column], Column]]],
    *,
    salt_buckets: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    ``aggs`` maps output column name → (input_col, partial_fn, merge_fn):
    ``{"total": ("amount", F.sum, F.sum),
       "n":     ("amount", F.count, F.sum),
       "mx":    ("amount", F.max, F.max)}``
    Phase 1 groups by (key, salt) — the hot key spreads over
    ``salt_buckets`` reducers; phase 2 merges the ≤ salt_buckets partial
    rows per key (tiny).

    Only works for algebraic aggregates (sum/count/min/max, or anything
    with a partial+merge decomposition). Non-decomposable aggregates
    (exact median, collect_list order) don't belong here.

    The salt is a content hash (``_content_salt``) — deterministic under
    task retries and repartitioning; ``salt_cols`` narrows the hashed
    columns (default: all) if some are wide binaries.
    """
    salted = df.withColumn("__salt", _content_salt(df, salt_cols, salt_buckets))
    phase1 = salted.groupBy(*key_cols, "__salt").agg(
        *[
            partial(F.col(col)).alias(f"__p_{out}")
            for out, (col, partial, _merge) in aggs.items()
        ]
    )
    return phase1.groupBy(*key_cols).agg(
        *[
            merge(F.col(f"__p_{out}")).alias(out)
            for out, (_col, _partial, merge) in aggs.items()
        ]
    )


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    *,
    top_n: int = 3,
) -> DataFrame:
    """Key-distribution diagnostics — the MEASURE step that decides
    whether :func:`salted_agg` / AQE skew handling
    is needed at all, and with what width. One row per profiled key
    column:

    - ``n_rows`` / ``n_keys`` — volume and cardinality;
    - ``max_cnt`` / ``p50_cnt`` / ``p99_cnt`` — exact group-size
      quantiles (inverted CDF over the per-key counts at integer ranks
      ceil(q·n_keys) — no float percentile, so every value replays
      exactly cross-engine);
    - ``skew_ratio`` = max/p50 — >> 1 means one reducer owns a key;
    - ``rec_salt_buckets`` = ceil(max_cnt / p99_cnt), the salt width
      that levels the hottest key down to a p99-sized task (1 = don't
      salt);
    - ``top_keys`` — the ``top_n`` heaviest key values (count desc, key
      asc — deterministic), comma-joined for schema stability.

    Scale shape: one map-side-combined count per key column; every later
    stage collapses further. The top-n rank over an unpartitioned window
    compiles to TakeOrderedAndProject (a distributed top-k heap — no
    task ever sorts the key space; plan-pinned). The quantiles do NOT
    rank the distinct keys: the counts multiset collapses to its
    DISTINCT VALUES first (group-size histograms are massively
    degenerate — a 10^9-key table typically has 10^2-10^4 distinct group
    sizes), the cumulative runs over that tiny table, and the rank-r
    value is the minimum count whose cumulative coverage reaches r —
    identical to ranking every key, without ever putting the keys
    through a single-partition window. Profiling K key columns scans the
    table K times map-only — a diagnostic posture; pass one column in
    the hot path.
    """
    from pyspark.sql import Window

    outs = []
    for key in key_cols:
        counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        w_top = Window.orderBy(F.desc("cnt"), F.col(key).asc())
        # order inside the aggregate (array_sort over (rn, key) structs):
        # collect_list after an orderBy does NOT guarantee encounter order
        top = (
            counts.withColumn("rn", F.row_number().over(w_top))
            .where(F.col("rn") <= top_n)
            .select(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("rn"),
                                    F.col(key).cast("string").alias("k"),
                                )
                            )
                        ),
                        lambda s: s["k"],
                    ),
                ).alias("top_keys")
            )
        )
        # distinct group sizes + how many keys have each — the small table
        dist = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("nk_at"))
        w_cum = Window.orderBy("cnt").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_all = Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = dist.select(
            "cnt",
            F.sum("nk_at").over(w_cum).alias("cum"),
            F.sum("nk_at").over(w_all).alias("nk"),
        )
        # rank-r value of the counts multiset = min cnt whose cumulative
        # key coverage reaches r (r = ceil(q * n_keys), exact int math)
        quant = cum.select(
            "cnt",
            "cum",
            F.expr("(50 * nk + 99) div 100").cast("long").alias("r50"),
            F.expr("(99 * nk + 99) div 100").cast("long").alias("r99"),
        ).agg(
            F.min(F.when(F.col("cum") >= F.col("r50"), F.col("cnt")))
            .cast("long")
            .alias("p50_cnt"),
            F.min(F.when(F.col("cum") >= F.col("r99"), F.col("cnt")))
            .cast("long")
            .alias("p99_cnt"),
        )
        base = counts.agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("cnt").cast("long").alias("max_cnt"),
        )
        outs.append(
            base.crossJoin(quant)
            .crossJoin(top)
            .select(
                F.lit(key).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_cnt",
                "p50_cnt",
                "p99_cnt",
                F.round(
                    F.col("max_cnt").cast("double") / F.col("p50_cnt").cast("double"),
                    4,
                ).alias("skew_ratio"),
                F.expr("(max_cnt + p99_cnt - 1) div p99_cnt")
                .cast("long")
                .alias("rec_salt_buckets"),
                "top_keys",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
