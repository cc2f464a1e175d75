"""Deterministic sampling — the reproducibility primitive a training-data
pipeline needs (beyond the reference's surface; extension tier).

`df.sample()` is seeded per-partition and NOT stable under repartitioning,
speculative retries, or engine changes — a training-set sampled that way
can't be reproduced, diffed, or incrementally extended. The standard fix
(used by every large-scale corpus pipeline) is CONTENT-keyed sampling: a
row is in the sample iff ``hash(key) < rate``, which is

- deterministic across runs, engines, partitionings, and cluster sizes;
- incremental: re-running over a grown corpus keeps every previously
  sampled row (no resample churn);
- exactly replayable in the DuckDB oracle (md5 is engine-independent,
  unlike xxhash64/rand — DECISIONS.md md5/sha rule).

Scale shape: a single codegen'd projection + filter — no shuffle, no UDF,
pushes down past column pruning. The per-stratum variant is a CASE over
the stratum column (small literal rate maps) — for thousands of strata,
swap the CASE for a broadcast-joined rates dimension; the filter stays
map-side either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from commercepulse_data_pipeline_spark.functions.pins import pin

# Buckets are the first 32 bits of md5(salt || key) — uniform on [0, 2^32).
BUCKET_SPACE = 1 << 32


def hash_bucket(key: Column, salt: str = "") -> Column:
    """Uniform bucket in [0, 2^32): first 8 hex chars of md5(salt || key)
    as an unsigned int. Engine-reproducible (hex-digit arithmetic replays
    identically in the DuckDB oracle)."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def threshold_for(rate: float) -> int:
    """Integer bucket threshold for a sampling rate — computed ONCE in
    Python so both engines compare against the same exact literal (no
    float-rounding skew at the boundary)."""
    return int(rate * BUCKET_SPACE)


def deterministic_sample(
    df: DataFrame, key_col: str, rate: float, *, salt: str = ""
) -> DataFrame:
    """Keep a row iff md5-bucket(key) < rate·2^32. Same key → same verdict
    forever; ``salt`` derives independent samples from the same corpus."""
    return df.where(hash_bucket(F.col(key_col), salt) < F.lit(threshold_for(rate)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    *,
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep the tail) — the corpus-balancing step of a training
    pipeline. ``rates`` maps stratum value → keep rate; everything else
    gets ``default_rate``."""
    thr: Column = F.lit(threshold_for(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(threshold_for(rate))).otherwise(thr)
    return df.where(hash_bucket(F.col(key_col), salt) < thr)


# Priority scale for weighted sampling: bucket·SCALE stays < 2^63 for any
# 32-bit bucket (2^32 · 10^6 ≈ 4.3e15), so the arithmetic is exact int64.
PRIORITY_SCALE = 1_000_000


def weighted_priority(key: Column, weight: Column, *, salt: str = "") -> Column:
    """Integer sampling priority ``(bucket(key) · 10^6) div max(w, 1)`` —
    smaller priority = more likely sampled, monotone in weight (a doc
    with 10× the weight is ~10× as likely to win a slot).

    This is the integer-exact variant of the Efraimidis–Spirakis A-ES
    key (``u^(1/w)``, equivalently ``-ln(u)/w``): ranking by ``u/w``
    instead of ``-ln(u)/w`` keeps the whole computation in int64, so the
    order replays BIT-IDENTICALLY in any engine — no ``ln``/``pow``
    last-ulp skew flipping ranks across Spark/DuckDB (the reason the
    oracle can hash-check it). The trade: inclusion odds are monotone
    and ~proportional in w but not the exact A-ES distribution; for
    corpus curation (prefer longer/higher-quality docs, reproducibly)
    that is the contract that matters. Weights must be < 2^31.

    Pure codegen projection — no shuffle, no UDF.
    """
    b = hash_bucket(key, salt) * F.lit(PRIORITY_SCALE)
    w = F.greatest(weight.cast("long"), F.lit(1))
    # Exact floor division on positive int64: subtract the remainder first,
    # so the float `/` divides an exact multiple — numerator ≤ 2^32·10^6
    # ≈ 4.3e15 < 2^53 is exactly representable and the quotient is an
    # exact integer, so the double round-trip cannot be off by one (a
    # bare floor(a / b) can, at exact-quotient boundaries).
    return ((b - (b % w)) / w).cast("long")


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "",
) -> DataFrame:
    """Exactly-k-per-group weighted sample: rank rows inside each group by
    ``weighted_priority`` ascending (doc key tiebreak → total order),
    keep ``rank <= k``. The weighted twin of the uniform per-group
    sampler (``q_docs_per_lang_sample``).

    Scale shape: one shuffle on ``group_col``; Spark's WindowGroupLimit
    pushes the ``rank <= k`` filter MAP-SIDE before the shuffle (measured
    6.6× on a hot key in SCALE.md), so a dominant group ships ~k rows per
    map task, never its full corpus share.
    """
    prio = weighted_priority(F.col(key_col), F.col(weight_col), salt=salt)
    w = Window.partitionBy(group_col).orderBy(prio.asc(), F.col(key_col).asc())
    return df.withColumn("wrank", F.row_number().over(w)).where(F.col("wrank") <= k)


def assign_splits(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministic train/validation/test assignment — every row gets a
    split label from the same md5-bucket arithmetic as
    ``deterministic_sample``, so the partition is:

    - disjoint and exhaustive by construction (adjacent integer bucket
      ranges over [0, 2^32) in sorted-name order, remainder to the last
      split — no row lost to float-boundary gaps);
    - stable across runs/engines/partitionings AND under corpus growth —
      a document never migrates between splits when new data arrives
      (the leakage mode that silently contaminates eval sets when
      ``randomSplit`` reshuffles);
    - replayable in the DuckDB oracle (hex-digit arithmetic, exact
      integer thresholds computed once in Python).

    ``splits`` maps name → fraction (must sum to ~1; the last sorted name
    absorbs rounding). Pure codegen projection — no shuffle, no UDF.
    """
    total = sum(splits.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    names = sorted(splits)
    # NULL keys hash as the empty string instead of propagating NULL
    # through md5 — a NULL bucket would give split=NULL and the row would
    # silently vanish from every split filter, breaking the exhaustiveness
    # contract. All NULL-keyed rows land (deterministically) in one split.
    bucket = hash_bucket(F.coalesce(F.col(key_col).cast("string"), F.lit("")), salt)
    expr: Column | None = None
    upper = 0
    for i, name in enumerate(names):
        upper = BUCKET_SPACE if i == len(names) - 1 else upper + threshold_for(splits[name])
        cond = bucket < F.lit(upper)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr)


def assign_splits_grouped(
    df: DataFrame,
    key_col: str,
    membership: DataFrame,
    splits: dict[str, float],
    *,
    salt: str = "",
) -> DataFrame:
    """GROUP-aware train/val/test assignment: every member of a group
    lands in the SAME split. Per-row splitting (:func:`assign_splits`)
    prevents a document from migrating between splits, but it cannot stop
    two NEAR-DUPLICATES from straddling train and test — the subtle
    eval-leakage mode exact-key splits invite (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", found
    exactly this train/test overlap in real corpora). Splitting by the
    duplicate-CLUSTER key closes it: pass the cluster decision table
    (e.g. ``graph.dedup_clusters`` output: its ``key_col`` column is the
    row key, ``cluster_id`` the group) and the bucket is computed on the GROUP
    key; rows with no group row are their own singleton group (bucketed
    on their own key), so the partition stays disjoint and exhaustive
    over the whole corpus.

    Scale shape: one equi-join of the corpus with the membership table on
    the row key (both sides shuffle on it once — membership is a
    decision table, not guaranteed broadcast-small), then the same pure
    codegen bucket projection as :func:`assign_splits`. Stability
    caveat, documented deliberately: the assignment is stable only as
    long as cluster REPRESENTATIVES are — growing a cluster can merge
    two groups and move members to the surviving group's split. That is
    the correct behavior (the alternative leaves a leak across the old
    boundary); re-emit the manifest whenever the cluster table changes.
    The membership table is reduced to ONE row per member before the
    join — if a member appears under several groups, the smallest group
    id wins (deterministic MIN) — so a malformed multi-row membership
    can never fan the left join out and silently duplicate manifest rows
    (ADVICE r11). Output: ``df`` + ``split_key`` (the effective group key,
    string) + ``split``."""
    m = (
        membership.select(F.col(key_col), F.col("cluster_id").alias("__grp"))
        .groupBy(key_col)
        .agg(F.min("__grp").alias("__grp"))
    )
    joined = df.join(m, key_col, "left")
    keyed = joined.withColumn(
        "split_key",
        F.coalesce(F.col("__grp").cast("string"), F.col(key_col).cast("string")),
    )
    return assign_splits(keyed, "split_key", splits, salt=salt).drop(
        "__grp"
    )


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    *,
    epoch: int,
    n_shards: int,
) -> DataFrame:
    """Deterministic per-epoch training order: a reproducible global
    permutation of the corpus, materialized as (shard, position-within-
    shard) so a training job can stream shard files in order with NO
    global sort anywhere.

    Every epoch is an independent permutation (the epoch number is folded
    into the hash salt), yet fully reproducible across runs, engines,
    partitionings and cluster sizes — the property ``orderBy(rand(seed))``
    does NOT have (rand is seeded per-partition; a repartition or task
    retry reorders the epoch, so a resumed training run would see
    different data). This is the data-ordering half of resumable
    training: (epoch, shard, pos) is a durable cursor.

    Scale shape: shard assignment and the order key are one codegen'd
    projection; positions are a ``row_number`` windowed BY SHARD — the
    sort parallelizes across ``n_shards`` (pick shards so a shard's rows
    fit a task's spill budget; at 100 TB that's thousands of shards, the
    same granularity the training job wants for files anyway). Writing is
    then ``repartition(shard).sortWithinPartitions(pos)`` — never a
    single-machine global sort. Ties are impossible: the order key ends
    with the unique ``key_col``.
    """
    okey = hash_bucket(
        F.coalesce(F.col(key_col).cast("string"), F.lit("")),
        salt=f"epoch-v1:{epoch}:",
    )
    shard = F.pmod(
        hash_bucket(
            F.coalesce(F.col(key_col).cast("string"), F.lit("")),
            salt=f"epoch-v1-shard:{epoch}:",
        ),
        F.lit(n_shards),
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("__okey"), F.col(key_col))
    return (
        df.withColumn("shard", shard)
        .withColumn("__okey", okey)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("__okey")
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame,
    *,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by the log-likelihood ratio of its hashed n-gram features
    under bag-of-features unigram models of the TARGET distribution vs
    the RAW corpus — the standard "make the pretraining mix look like
    the high-quality target" selector (target = Wikipedia/books/a
    curated split; raw = the crawl).

        feature(doc)  = word unigrams + adjacent bigrams (bag, not set)
        bucket(f)     = md5-hash(f) mod n_buckets   (hashed features —
                        the model is two n_buckets-long count vectors,
                        never a corpus-sized vocabulary)
        p_side(b)     = (count_side(b) + 1) / (total_side + n_buckets)
        weight(doc)   = Σ_f [ log2 p_target(bucket(f))
                              - log2 p_raw(bucket(f)) ]

    Returns (doc_id, n_feats, dsir_logratio) for every document with at
    least one feature; resample by taking the top-k by
    (dsir_logratio DESC, id).

    Cross-engine determinism: the md5 bucket replays in SQL
    (hash_bucket), both engines feed log2 identical IEEE ratios of
    integers, and the per-feature log ratio is quantized to
    DECIMAL(30,4) before an exact decimal sum — the
    ``unigram_cross_entropy`` discipline: a 1-ulp log2 wobble between
    JVM StrictMath and libm flips a 1e-4 quantization boundary with
    ~4e-11 probability per feature.

    Scale shape: ONE feature explode per side feeding bucket counts with
    map-side combine (uniform md5 keys); both models are n_buckets rows
    — the ratio table BROADCASTS to the scoring join regardless of
    corpus size; totals are 1-row aggregates crossed in broadcast-style.
    The raw explode is localCheckpoint'ed because it feeds both the raw
    model and the scoring join (no subplan sharing across DataFrame
    branches — the unigram_cross_entropy note). No driver collect, no
    pair space, no vocabulary-sized state."""
    from commercepulse_data_pipeline_spark.operators.text import (
        token_ngrams,
        tokens,
    )
    from commercepulse_data_pipeline_spark.functions.expr import let

    def feats(frame: DataFrame, with_id: bool) -> DataFrame:
        fcol = let(
            tokens(F.col("text")),
            lambda t: F.concat(t, token_ngrams(t, 2)),
        )
        cols = [F.col("doc_id")] if with_id else []
        return (
            frame.select(*cols, F.explode_outer(fcol).alias("__feat"))
            .where(F.col("__feat").isNotNull())
            .withColumn(
                "__b",
                F.pmod(hash_bucket(F.col("__feat"), salt="dsir-v1:"), F.lit(n_buckets))
                .cast("int"),
            )
            .drop("__feat")
        )

    raw = feats(df, with_id=True).localCheckpoint(eager=False)
    raw_counts = raw.groupBy("__b").agg(F.count(F.lit(1)).alias("__cr"))
    tgt_counts = (
        feats(target, with_id=False)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__ct"))
    )
    raw_tot = raw_counts.agg(F.sum("__cr").alias("__r"))
    tgt_tot = tgt_counts.agg(F.sum("__ct").alias("__t"))
    ratios = (
        raw_counts.join(tgt_counts, "__b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "__b",
            (
                F.log2(
                    (F.coalesce(F.col("__ct"), F.lit(0)) + 1)
                    / (F.coalesce(F.col("__t"), F.lit(0)) + n_buckets).cast("double")
                )
                - F.log2(
                    (F.col("__cr") + 1) / (F.col("__r") + n_buckets).cast("double")
                )
            )
            .cast("decimal(30,4)")
            .alias("__lr"),
        )
    )
    return (
        raw.join(F.broadcast(ratios), "__b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("__lr").cast("double"), 4).alias("dsir_logratio"),
        )
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    *,
    target_frac: float = 0.5,
) -> DataFrame:
    """Multilingual α-temperature rebalancing at α = 0.5 (the
    mBERT/XLM-R exponentiated-smoothing recipe): sample so the kept
    per-group counts are proportional to sqrt(n_group) — boosting
    low-resource groups and shaving the head — while keeping
    ``target_frac`` of the corpus overall. Returns the sampled rows
    (content-keyed md5 buckets: reproducible, incremental, engine-exact).

        w_g    = sqrt(n_g)                      (α = 0.5)
        keep_g = floor(target_frac · N) · w_g / Σ w
        rate_g = min(1, keep_g / n_g)
        kept   = rows with hash_bucket(id) < floor(rate_g · 2³²)

    α is FIXED at 0.5 deliberately: IEEE-754 requires sqrt to be
    correctly rounded, so both engines derive bit-identical weights —
    a general pow(n, α) (JVM StrictMath vs libm) differs by 1 ulp on
    real inputs and would flip floor(rate·2³²) thresholds at the
    boundary. Σ w accumulates in DECIMAL (order-free); every division
    is parenthesized to pin one operation order for the oracle.

    Scale shape: one count pass, a group-count-sized plan that
    BROADCASTS to the sampling join, then a map-only bucket filter —
    the docs_mixture_applied shape with derived instead of given
    weights. Rows with a NULL group drop (no rate is defined for them);
    filter or fill upstream if they must survive."""
    # counts (#groups rows) feeds the weight-sum total AND the per-group
    # plan; uncut, the corpus-wide group count ran twice (r15
    # optimization pass). Lazy pin — the total's broadcast build
    # materializes it.
    counts = pin(
        df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__ng")),
        eager=False,
    )
    tot = counts.agg(
        F.sum("__ng").alias("__ntot"),
        F.sum(
            F.sqrt(F.col("__ng").cast("double")).cast("decimal(30,15)")
        )
        .cast("double")
        .alias("__wsum"),
    )
    budget = F.floor(F.lit(target_frac) * F.col("__ntot")).cast("double")
    rate = F.least(
        F.lit(1.0),
        (
            (budget * F.sqrt(F.col("__ng").cast("double"))) / F.col("__wsum")
        )
        / F.col("__ng").cast("double"),
    )
    plan = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.floor(rate * F.lit(4294967296.0)).cast("long").alias("__thr"),
    )
    return (
        df.join(F.broadcast(plan), group_col)
        .where(hash_bucket(F.col(id_col).cast("string"), "alpha-mix-v1:") < F.col("__thr"))
        .drop("__thr")
    )


def _null_score_guard(df: DataFrame, score_col: str, null_scores: str, fn: str):
    """Shared NULL-score contract for the two banding forms (VERDICT r12:
    the siblings used to carry OPPOSITE documented NULL semantics — ntile
    put NULLs in the head band, histogram dropped them — so a NULL-scored
    doc survived one form and vanished from the other; ``'raise'`` is now
    the shared default so the disagreement can never be silent).

    ``'raise'``: any NULL score fails the JOB with a clear message — as a
    lazy column expression (``raise_error`` fired per-row), not an eager
    count, so no extra pass over the corpus. ``'head'``: NULLs band into
    the first label (each form implements its mechanism). ``'exclude'``:
    NULL-scored rows are dropped BEFORE any threshold arithmetic (they
    neither band nor shift other rows' thresholds). Returns the possibly
    rewritten df."""
    if null_scores not in ("raise", "head", "exclude"):
        raise ValueError(
            f"{fn}: null_scores must be 'raise' | 'head' | 'exclude', "
            f"got {null_scores!r}"
        )
    s = F.col(score_col)
    if null_scores == "raise":
        dt = df.schema[score_col].dataType.simpleString()
        return df.withColumn(
            score_col,
            F.when(s.isNotNull(), s).otherwise(
                F.raise_error(
                    F.lit(
                        f"{fn}: NULL value in score column {score_col!r} "
                        "(null_scores='raise'; pass 'head' or 'exclude' "
                        "to band or drop unscored rows)"
                    )
                ).cast(dt)
            ),
        )
    if null_scores == "exclude":
        return df.where(s.isNotNull())
    return df  # 'head': caller's ordering/join handles placement


def score_bands(
    df: DataFrame,
    score_col: str,
    *,
    id_col: str = "doc_id",
    partition_col: str | None = None,
    n_bands: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    band_col: str = "band",
    null_scores: str = "raise",
) -> DataFrame:
    """CCNet-style score banding (Wenzek et al. 2020 §4.3): rank rows by
    ``score_col`` inside each ``partition_col`` group on the
    deterministic (score, id) total order, split each group into
    ``n_bands`` equal-count ntiles, and label them. CCNet's
    head/middle/tail perplexity split is the n_bands=3 instance over
    per-language LM scores (low score = fluent/corpus-typical); the
    standard selection then keeps head+middle and drops the tail. The
    band label — not a filtered subset — is the output, so callers can
    keep, down-weight, or audit bands independently.

    Scale shape: the window is PARTITIONED (per language / domain /
    source — exactly how CCNet applies it), so there is no global sort;
    each partition's ntile is a within-partition rank over its own sort.
    For a corpus dominated by ONE giant partition value, swap the
    per-row window for the histogram two-pass
    (:func:`score_bands_histogram`). ``partition_col=None`` degrades to
    a single global window — correct, but single-task; only for small
    tables.

    ``null_scores`` (shared contract with the histogram form, so the
    siblings can never silently disagree on unscored rows): ``'raise'``
    (default) fails the job on any NULL score; ``'head'`` bands NULLs
    into the first label (they sort FIRST under Spark's ascending
    order); ``'exclude'`` drops them before ranking."""
    if len(labels) != n_bands:
        raise ValueError(
            f"score_bands: {n_bands} bands need {n_bands} labels, got {labels!r}"
        )
    df = _null_score_guard(df, score_col, null_scores, "score_bands")
    w = (
        Window.partitionBy(partition_col) if partition_col is not None else Window.partitionBy()
    ).orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    return df.withColumn(
        band_col,
        F.element_at(F.array(*[F.lit(x) for x in labels]), F.ntile(n_bands).over(w)),
    )


def score_bands_histogram(
    df: DataFrame,
    score_col: str,
    *,
    n_bands: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    band_col: str = "band",
    null_scores: str = "raise",
) -> DataFrame:
    """GLOBAL score banding without a global row sort — the 100 TB-safe
    variant the :func:`score_bands` docstring promises for the
    one-giant-partition case. Two passes: (1) reduce the corpus to a
    histogram of DISTINCT score values with counts (scores are already
    quantized — e.g. bits_per_token is rounded to 4dp — so the histogram
    is kilobytes); (2) a window over the tiny histogram computes each
    score's cumulative start position, its band is
    ``(cum_start · n_bands) div total`` (exact integer arithmetic —
    replays bit-identically in any engine), and the score→band map
    broadcast-joins back to the corpus.

    Semantics difference vs the ntile form, deliberate: rows TIED on the
    score land in the SAME band (the histogram cannot see ids), so band
    sizes are equal only up to tie mass. For banding decisions that is
    usually the better contract — two identical scores never straddle a
    threshold — and it is what makes the global form scale: the only
    ordered structure is the distinct-score histogram.

    ``null_scores`` (shared contract with the ntile form): ``'raise'``
    (default) fails the job on any NULL score; ``'head'`` bands NULLs
    into the first label (the NULL histogram group sorts first and the
    map joins back null-safely); ``'exclude'`` drops NULL-scored rows
    BEFORE the histogram, so they no longer shift other rows' band
    thresholds (pre-r13, they were dropped by the equi-join but still
    counted in the cumulative positions)."""
    if len(labels) != n_bands:
        raise ValueError(
            f"score_bands_histogram: {n_bands} bands need {n_bands} labels, "
            f"got {labels!r}"
        )
    df = _null_score_guard(df, score_col, null_scores, "score_bands_histogram")
    hist = df.groupBy(score_col).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy(F.col(score_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.orderBy(F.col(score_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    num = (F.sum("__c").over(w) - F.col("__c")) * F.lit(n_bands)
    tot = F.sum("__c").over(wt)
    # exact floor division on positive int64 (the weighted_priority
    # discipline): subtract the remainder first so the double `/` divides
    # an exact multiple — no off-by-one at exact-quotient boundaries
    banded = hist.select(
        score_col,
        ((num - (num % tot)) / tot).cast("long").alias("__b"),
    ).select(
        score_col,
        F.element_at(
            F.array(*[F.lit(x) for x in labels]),
            (F.least(F.col("__b"), F.lit(n_bands - 1)) + 1).cast("int"),
        ).alias(band_col),
    )
    if null_scores == "head":
        # the NULL histogram group sorts first (band 0 = head); a plain
        # equi-join would drop it, so the map joins back null-safely
        b = banded.withColumnRenamed(score_col, "__score_b")
        return (
            df.join(
                F.broadcast(b), F.col(score_col).eqNullSafe(F.col("__score_b"))
            )
            .drop("__score_b")
        )
    return df.join(F.broadcast(banded), score_col)
