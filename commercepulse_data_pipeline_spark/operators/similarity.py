"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how production vector search scales:

- ``cosine_topk``      — exact brute-force top-k. One pass over the corpus
  with the query vector broadcast as a literal; dot products are pure
  Catalyst higher-order functions (zip_with/aggregate) so the whole scan
  stays in codegen. At 100 TB this is the verification/baseline path.
- ``lsh_topk``         — approximate: random-hyperplane LSH buckets shrink
  the candidate set before exact re-ranking. Candidate generation is a
  bucket-key equi-join → uniform shuffle, no crossJoin.
- ``knn_join``         — many-query batch form: small query set broadcast,
  corpus scanned once (the shape you want on a cluster — never corpus ×
  corpus).

All math is done in double precision after an explicit cast so results are
engine-reproducible (float32 accumulation order would not be).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df
from commercepulse_data_pipeline_spark.functions.pins import pin


def _dot(a: Column, b: Column) -> Column:
    """dot(a, b) as a sequential left fold over doubles.

    Deliberately a higher-order fold, NOT an unrolled ``a₁b₁ + a₂b₂ + …``
    chain: measured at dim=64, the unrolled chain is ~5× SLOWER (cosine
    top-k 0.31s → 1.54s at sf0.1) — 64-deep Add trees blow past codegen
    method limits and fall back to per-node interpreted eval, while the
    fold runs as a tight loop over the unsafe array. Don't "optimize"
    this into expanded arithmetic again without re-measuring."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _norm_py(v: list[float]) -> float:
    """Driver-side norm of a literal vector with the SAME IEEE-double
    left-fold order as ``_norm`` — identical value, zero per-row cost."""
    import math

    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, NULL-safe on zero norms."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom)


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector.

    The query is a literal array (broadcast by construction); ranking uses
    a global sort of only (id, score) pairs — the wide embedding column is
    pruned before the sort, so the shuffle is tiny even on a huge corpus.
    The query's norm is computed ONCE on the driver (same fold order →
    same double); per-row work is one fold dot + one fold norm.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    denom = _norm(F.col(vec_col)) * F.lit(_norm_py(query_vec))
    scored = corpus.select(
        F.col(id_col),
        F.when(denom > 0, _dot(F.col(vec_col), q) / denom).alias("cosine_sim"),
    ).where(F.col("cosine_sim").isNotNull())
    return scored.orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    ).limit(k).select(id_col, F.round("cosine_sim", 6).alias("cosine_sim"))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — dependency-free and
    engine-independent) for sign-LSH bucketing."""
    planes = []
    state = seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) - 0.5)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket key: one bit per hyperplane (sign of dot product)."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(v)) for v in p])) >= 0, F.lit(1)).otherwise(F.lit(0))
        for p in planes
    ]
    return F.concat_ws("", *[b.cast("string") for b in bits])


def _probe_buckets(
    query_vec: list[float], planes: list[list[float]], probes: int
) -> list[str]:
    """Driver-side multi-probe bucket list (tiny, pure python): the query's
    exact bucket, then single-bit flips of the planes whose |dot| is
    smallest (the boundaries the query is closest to — the flips most
    likely to hold near-neighbors)."""
    qbits = "".join(
        "1" if sum(q * w for q, w in zip(query_vec, p)) >= 0 else "0" for p in planes
    )
    margins = [
        (abs(sum(q * w for q, w in zip(query_vec, p))), i) for i, p in enumerate(planes)
    ]
    flip_order = [i for _, i in sorted(margins)]
    buckets = [qbits]
    for i in flip_order[: max(0, probes - 1)]:
        flipped = qbits[:i] + ("0" if qbits[i] == "1" else "1") + qbits[i + 1:]
        buckets.append(flipped)
    return buckets


def lsh_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    n_planes: int = 8,
    seed: int = 42,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the query's LSH
    bucket(s).

    This form recomputes the bucket key over a full corpus scan — the
    build/ad-hoc path. At scale, persist the corpus pre-bucketed (the
    ``streaming/embeddings.py`` store) and query with ``lsh_topk_indexed``:
    probes then become partition PRUNING (only the probed buckets' files
    are opened).
    Recall tuning: ``n_planes`` (bucket granularity) and ``probes``
    (multi-probe: also scan the buckets one sign-flip away —
    near-boundary neighbors land there; probes=1+n_planes covers all
    Hamming-1 buckets).
    """
    planes = random_hyperplanes(len(query_vec), n_planes, seed)
    buckets = _probe_buckets(query_vec, planes, probes)
    bucketed = corpus.where(lsh_bucket(F.col("embedding"), planes).isin(buckets))
    return cosine_topk(bucketed, query_vec, k)


def lsh_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """Query a persisted sign-LSH index: bucket the query against the
    (tiny) persisted plane table on the driver, read ONLY the probed
    buckets' partitions (partition pruning, plan-asserted in tests), exact
    cosine re-rank inside them. Same answers as ``lsh_topk`` with the same
    planes — the restriction moves from a filter scan to pruning.
    ``lists/`` is read through ``readers.fold_consistent_read``, so a
    ``compact-index`` fold of it, running or interrupted, is served as
    the store before or after the fold."""
    from ..sources.readers import fold_consistent_read

    planes = [
        list(r.plane)
        for r in sorted(
            spark.read.parquet(f"{path}/planes").collect(), key=lambda r: r.plane_id
        )
    ]
    buckets = [int(b, 2) for b in _probe_buckets(query_vec, planes, probes)]
    lists = fold_consistent_read(spark, f"{path}/lists").where(F.col("lsh_bucket").isin(buckets))
    return cosine_topk(lists, query_vec, k, id_col=id_col, vec_col=vec_col)


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _with_centroid_assign(
    df: DataFrame,
    cents: list[list[float]],
    *,
    vec_col: str,
) -> DataFrame:
    """Constant-free nearest-centroid assignment (r15): the centroids
    travel as DATA in a ONE-ROW broadcast frame and the argmin runs
    over that array column, so the generated code is textually
    IDENTICAL across Lloyd iterations and across train calls — the
    literal-centroid form generated a unique codegen class per call,
    and `bench.py --trains` measured repeated same-session trains
    degrading ~2.5× as those classes accumulated (SCALE.md r14).
    Same arithmetic as the literal form bit-for-bit: one left-to-right
    _sq_dist fold per centroid, array_min over (d, cid) structs
    (ties → lowest cid). The 1-row broadcast nested-loop join is
    map-only — no shuffle enters the plan."""
    spark = df.sparkSession
    # one_slice_df: plain createDataFrame would slice this 1-row frame
    # defaultParallelism ways, so every broadcast build runs one trivial
    # task per core; one slice means one task
    cents_df = one_slice_df(
        spark,
        [([list(map(float, c)) for c in cents],)],
        "__cents array<array<double>>",
    )
    assign = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c, i: F.struct(
                _sq_dist(F.col(vec_col), c).alias("d"), i.alias("cid")
            ),
        )
    )["cid"]
    return (
        df.crossJoin(F.broadcast(cents_df))
        .withColumn("centroid_id", assign)
        .drop("__cents")
    )


def ivf_assign(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
    iters: int = 2,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse quantizer: deterministic k-means-lite over DataFrame ops.

    Init: the ``n_centroids`` corpus vectors with the lowest md5-derived
    64-bit hash of the id (``_md5_long`` — a deterministic pseudo-random
    sample that is also ENGINE-REPRODUCIBLE, per the DECISIONS.md rule
    that oracle-checked hashes are md5/sha only; was xxhash64 in r2).
    Each Lloyd iteration: broadcast centroids → per-row argmin
    (constant-free Catalyst expression — the centroids ride as data in
    a 1-row broadcast, ``_with_centroid_assign``, so iterations and
    repeated trains share ONE generated class) → groupBy mean.
    Per-dimension means accumulate in DECIMAL (exact, commutative) so the
    centroid doubles never depend on partition/merge order — the same
    order-independence discipline as ``_dsum`` in the query layer.
    Returns (corpus + ``centroid_id`` column, centroid list).

    Scale: centroids are tiny (driver-held literals); the corpus is
    scanned once per iteration with NO shuffle except the k-row centroid
    re-average. Persist the assigned corpus partitioned/bucketed by
    ``centroid_id`` and ``ivf_topk`` turns into partition pruning.
    """
    from commercepulse_data_pipeline_spark.operators.dedup import _md5_long

    sample = (
        corpus.select("vec_id", "embedding")
        .orderBy(_md5_long(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(map(float, r[1])) for r in sample]

    for _ in range(iters):
        assigned = _with_centroid_assign(corpus, centroids, vec_col="embedding")
        dim = len(centroids[0])
        means = (
            assigned.groupBy("centroid_id")
            .agg(
                *[
                    (
                        F.sum(
                            F.element_at(F.col("embedding"), i + 1)
                            .cast("double")
                            .cast("decimal(30,15)")
                        ).cast("double")
                        / F.count(F.lit(1))
                    ).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new_cents = list(centroids)
        for r in means:
            new_cents[r["centroid_id"]] = [float(r[f"m{i}"]) for i in range(dim)]
        centroids = new_cents

    assigned = _with_centroid_assign(corpus, centroids, vec_col="embedding")
    return assigned, list(enumerate(centroids))


def ivf_topk(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    *,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k via IVF: rank centroids by distance to the query
    (driver-side, tiny), scan only the ``nprobe`` nearest inverted lists,
    exact cosine re-rank inside them. With the corpus bucketed by
    ``centroid_id`` the probe is partition pruning, not a filter scan."""
    def d2(c: list[float]) -> float:
        # (a-b)*(a-b), not **2: a single IEEE multiply is what the SQL
        # oracle replays; pow() need not be bit-identical to it.
        return sum((a - b) * (a - b) for a, b in zip(query_vec, c))

    probe_ids = [cid for cid, c in sorted(centroids, key=lambda t: d2(t[1]))[:nprobe]]
    bucketed = assigned.where(F.col("centroid_id").isin(probe_ids))
    return cosine_topk(bucketed, query_vec, k)


def knn_join_self(
    corpus: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket: int = 1000,
    dim: int | None = None,
) -> DataFrame:
    """Approximate self-kNN (embedding-cosine near-dup) that NEVER
    broadcasts the corpus — the scale-safe form of
    ``knn_join(corpus, queries=corpus)``, which would broadcast the whole
    embedding table (VERDICT r1 #7 / ADVICE).

    Shape (same posting-list discipline as the MinHash-LSH dedup family,
    operators/dedup.py):

    1. ``n_tables`` independent sign-LSH bucketings (``n_planes`` bits
       each, seeds ``seed..seed+n_tables-1``) — each row emits
       ``n_tables`` (table, bucket) keys; near vectors collide in ≥1
       table with probability rising in n_tables, falling in n_planes.
    2. posting list per (table, bucket) — uniform shuffle on the bucket
       key; singleton buckets pruned; ``max_bucket`` drops degenerate
       buckets (zero vectors / boilerplate) that would emit O(bucket²)
       pairs — enforced cap-before-collect (window count filter) so the
       degenerate id array is never buffered.
    3. distinct candidate pairs → re-join both ids to the corpus for the
       exact cosine (plain equi-joins on the id — bucket the corpus table
       by id at 100 TB and these are co-located, shuffle-free).
    4. each pair scores once, then ranks BOTH directions; top-k per row.

    Output schema matches ``knn_join``: (query_id, neighbor_id,
    cosine_sim, rank). Recall is tunable via n_tables/n_planes; exact
    parity with brute force is not promised (that is what ``knn_join``
    with a genuinely small query side is for).
    """
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(first["d"]) if first else 0
    tables = [
        F.struct(
            F.lit(t).alias("table_id"),
            lsh_bucket(F.col(vec_col), random_hyperplanes(dim, n_planes, seed + t)).alias("bucket"),
        )
        for t in range(n_tables)
    ]
    # explode_outer: the fixed-length table array is never empty, and a
    # plain explode's inferred non-empty filter would re-run every
    # lsh_bucket (n_tables × n_planes dot products) once more per row
    keyed = corpus.select(
        F.col(id_col).alias("__id"), F.explode_outer(F.array(*tables)).alias("tb")
    ).select("__id", "tb.table_id", "tb.bucket")

    from commercepulse_data_pipeline_spark.operators.dedup import _bucket_pairs

    pairs = _bucket_pairs(
        keyed, ["table_id", "bucket"], F.col("__id"), max_bucket
    ).distinct()
    # Per-VECTOR norms computed once at join time instead of per pair
    # (P pairs ≫ n vectors; the norm value is identical, so scores and
    # oracle hashes are unchanged). The pair dot stays a fold — see _dot.
    va = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    vb = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    scored = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(denom > 0, _dot(F.col("__va"), F.col("__vb")) / denom).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim").isNotNull())
    )
    both = scored.select(
        F.explode_outer(
            F.array(
                F.struct(F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id")),
                F.struct(F.col("id_b").alias("query_id"), F.col("id_a").alias("neighbor_id")),
            )
        ).alias("d"),
        "cosine_sim",
    ).select("d.query_id", "d.neighbor_id", "cosine_sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")
    )


def _check_query_side(queries: DataFrame, max_queries: int | None, op: str) -> None:
    """Enforce the broadcast-query-side contract shared by
    :func:`knn_join`, :func:`hard_negatives` and :func:`pq_knn_join`: the
    query side broadcasts to the driver and every executor, so its cost
    model is O(corpus × queries) — fine for thousands of query rows,
    accidentally quadratic when a corpus-proportional set is passed (the
    r10 SCALE.md probe measured that misuse at 30.9× growth for a 10×
    corpus BEFORE the caller was fixed; this guard makes it impossible to
    hit silently at 100×). The count probe is bounded by ``limit`` — it
    never scans past ``max_queries + 1`` rows — and is cheap next to the
    broadcast the operator is about to do anyway. Pass ``max_queries=None``
    to opt out explicitly (e.g. a deliberately large one-off batch on a
    cluster sized for it).

    Note the probe EVALUATES the query-side plan once more than the
    operator alone would (the bounded take here, then the broadcast
    re-executes the same lineage): for a query side derived through
    expensive lineage, cache()/localCheckpoint() it before calling — or
    pass ``max_queries=None`` — to avoid paying that lineage twice
    (ADVICE r11).

    The bound is ``take(max+1)`` over a ``lit(1)`` projection, NOT
    ``limit(max+1).count()`` (r16): a limit+count plan janino-compiles
    two fresh classes on EVERY execution (measured — the only remaining
    per-run compile in the whole bench suite traced here), while
    ``executeTake`` reuses cached projections; it is also ~40% faster
    and equally bounded (incremental partition scan, never past max+1
    rows; the collected rows are max+1 constant ints)."""
    if max_queries is None:
        return
    n = len(queries.select(F.lit(1).alias("one")).take(max_queries + 1))
    if n > max_queries:
        raise ValueError(
            f"{op}: query side has >{max_queries} rows; it is BROADCAST, "
            "so cost is O(corpus x queries) and a corpus-sized query set "
            "goes quadratic (30.9x at 10x corpus in the r10 SCALE.md "
            "probe). For self/near-self kNN over the whole corpus use "
            "knn_join_self (LSH-blocked, broadcasts nothing) or the "
            "persisted-index probes (lsh/pq_topk_indexed, ivfpq_topk); for "
            "a deliberately large query batch pass max_queries=None."
        )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str | None = None,
    query_vec: str | None = None,
    exclude_self: bool = True,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """k nearest corpus vectors for EACH query row — SMALL query side only.

    Broadcast the queries; corpus scanned once; per-query rank window on
    (query_id) — the shuffle carries only (query_id, neighbor_id, score).
    The query side must fit in a broadcast (driver + every executor hold
    it): thousands of rows, not the corpus — enforced by ``max_queries``
    (see :func:`_check_query_side`; ``None`` opts out). For self-kNN /
    embedding-cosine near-dup over the WHOLE corpus use ``knn_join_self``,
    which LSH-blocks the pair space instead of broadcasting anything.
    ``exclude_self`` drops the trivial id==id match when querying a subset
    of the corpus. Output columns: query_id, neighbor_id, cosine_sim, rank.
    """
    query_id = query_id or id_col
    query_vec = query_vec or vec_col
    _check_query_side(queries, max_queries, "knn_join")
    q = F.broadcast(
        queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec"))
    )
    scored = (
        corpus.crossJoin(q)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col(vec_col), F.col("__qvec")).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim").isNotNull())
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_lo: float = 0.2,
    sim_hi: float = 0.9,
    query_id: str | None = None,
    query_vec: str | None = None,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query row, the top-k
    corpus vectors by cosine INSIDE the band ``[sim_lo, sim_hi)`` —
    similar enough to be confusable (the negatives that actually teach a
    contrastive/embedding model), but below the near-duplicate cut where
    a "negative" is really a positive mislabeled (the classic
    false-negative poisoning failure). Self-matches are always excluded.

    Same scale contract as :func:`knn_join`: the query side broadcasts
    (thousands of rows, not the corpus — ``max_queries`` enforces it, see
    :func:`_check_query_side`); the corpus is scanned once; the
    band filter runs BEFORE the rank window, so the shuffle carries only
    in-band (query_id, neighbor_id, score) rows — tighter than knn_join's,
    since the band prunes both the tail of irrelevant negatives and the
    near-dup head. Output: query_id, neighbor_id, cosine_sim, rank.
    """
    query_id = query_id or id_col
    query_vec = query_vec or vec_col
    _check_query_side(queries, max_queries, "hard_negatives")
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qvec"),
        )
    )
    sim6 = F.round(cosine(F.col(vec_col), F.col("__qvec")), 6)
    scored = (
        corpus.crossJoin(q)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            sim6.alias("cosine_sim"),
        )
        # band on the ROUNDED score: the rank and the band then agree
        # bit-for-bit with the SQL replay (an unrounded band could keep a
        # row whose rounded score ties across the boundary)
        .where(
            F.col("cosine_sim").isNotNull()
            & (F.col("cosine_sim") >= sim_lo)
            & (F.col("cosine_sim") < sim_hi)
            & (F.col("query_id") != F.col("neighbor_id"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_gram(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Upper-triangle Gram matrix of the embedding corpus: one row per
    (i, j), i <= j, with ``gram`` = Σ over vectors of x_i·x_j — the
    single-pass statistic PCA / whitening / covariance diagnostics need
    (covariance = Gram/n minus the mean outer product; the mean vector is
    one more cheap aggregate).

    Determinism: each product is one IEEE double multiply; the SUM
    accumulates in DECIMAL (exact, commutative), so the matrix is
    independent of partition/merge order and replays exactly in a SQL
    oracle — the float-sum discipline of DECISIONS.md.

    Scale shape: the double posexplode does O(d²/2) work per vector —
    covariance IS n·d² work — but map-side partial aggregation collapses
    each task's rows to ≤ d²/2 partial sums before the shuffle, so the
    exchange carries tasks × d²/2 rows regardless of corpus size. Output
    is d(d+1)/2 rows (bounded by dimension alone)."""
    e = df.where(F.col(vec_col).isNotNull()).select(F.col(vec_col).alias("__v"))
    pairs = (
        e.select(F.posexplode("__v").alias("i", "__xi"), F.col("__v"))
        .select("i", "__xi", F.posexplode("__v").alias("j", "__xj"))
        .where(F.col("j") >= F.col("i"))
    )
    prod = (
        F.col("__xi").cast("double") * F.col("__xj").cast("double")
    ).cast("decimal(30,8)")
    return (
        pairs.groupBy("i", "j")
        .agg(F.round(F.sum(prod), 6).cast("double").alias("gram"))
        .select(F.col("i").cast("int"), F.col("j").cast("int"), "gram")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search")
# ---------------------------------------------------------------------------
#
# The 100 TB embedding-compression shape: split each d-dim vector into m
# subspaces, learn a small codebook per subspace (the same deterministic
# decimal-Lloyd discipline as ivf_assign), store each vector as m small
# integer codes (d floats -> m bytes), and answer queries in the
# COMPRESSED domain via asymmetric distance computation (ADC): the query
# builds one m x n_codes lookup table of partial squared distances
# driver-side, and per-vector distance is m table lookups summed — a pure
# codegen projection over the codes table, no join, no decompression;
# top-k compiles to TakeOrderedAndProject. Every step is md5-seeded /
# decimal-accumulated / order-pinned, so a SQL replay hash-checks the
# distances themselves.


def _argmin_code(sub: Column, book: Column) -> Column:
    """Index of the nearest codebook entry (ties -> lowest code), same
    array_min-over-structs shape as ivf_assign — ``book`` is an ARRAY
    COLUMN (codebooks ride as data, r15: the literal form generated a
    unique codegen class per train/encode call)."""
    return F.array_min(
        F.transform(
            book,
            lambda c, i: F.struct(_sq_dist(sub, c).alias("d"), i.alias("cid")),
        )
    )["cid"]


def _with_pq_codes(
    df: DataFrame,
    books: list[list[list[float]]],
    *,
    vec_col: str,
    out_col: str,
) -> DataFrame:
    """Append the m-code PQ assignment with CONSTANT-FREE codegen (r15,
    the ``_with_centroid_assign`` discipline): the m×n_codes×d/m
    codebooks ride as data in a 1-row broadcast frame; each subspace
    slice zips with its codebook and argmins over it. Identical
    arithmetic to the old literal form; textually identical generated
    code across calls."""
    m = len(books)
    ds = len(books[0][0])
    spark = df.sparkSession
    books_df = one_slice_df(
        spark,
        [([[list(map(float, c)) for c in bk] for bk in books],)],
        "__books array<array<array<double>>>",
    )
    slices = F.array(*[F.slice(F.col(vec_col), j * ds + 1, ds) for j in range(m)])
    codes = F.zip_with(slices, F.col("__books"), _argmin_code)
    return (
        df.crossJoin(F.broadcast(books_df))
        .withColumn(out_col, codes)
        .drop("__books")
    )


def _with_residual(
    df: DataFrame,
    cents: list[list[float]],
    *,
    vec_col: str,
) -> DataFrame:
    """Append the residual to the assigned centroid with CONSTANT-FREE
    codegen (r16, the ``_with_centroid_assign`` discipline): the
    centroid matrix rides as DATA in a 1-row broadcast frame instead of
    a literal array, so the generated code is textually identical across
    train calls. Arithmetic identical to the literal form —
    ``element_at`` by ``centroid_id + 1`` then ``zip_with`` subtract —
    which requires (exactly as the literal form did) that ``cents[i]``
    is centroid id ``i``'s vector, i.e. contiguous 0..n-1 ids in order
    (``ivf_assign`` produces exactly that)."""
    spark = df.sparkSession
    cents_df = one_slice_df(
        spark,
        [([list(map(float, c)) for c in cents],)],
        "__rcents array<array<double>>",
    )
    resid = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.element_at(F.col("__rcents"), F.col("centroid_id") + 1),
        lambda x, c: x - c,
    )
    return (
        df.crossJoin(F.broadcast(cents_df))
        .withColumn("__resid", resid)
        .drop("__rcents")
    )


def pq_train(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    iters: int = 1,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: ``books[j][c]`` is code ``c``'s
    centroid in subspace ``j``. Init = the ``n_codes`` corpus vectors
    with the lowest md5-derived id hash (engine-reproducible), sliced
    per subspace; each Lloyd iteration is ONE corpus pass — codes for
    all m subspaces in one projection, then one (j, code)-keyed
    aggregate with DECIMAL per-dimension means (partition-order-free,
    the ivf_assign discipline). The collected means are m·n_codes·d/m =
    n_codes·d doubles — bounded by the codebook, not the corpus.

    Init is TWO cheap jobs, not one expensive pass (r16): the old
    single-pass form (``orderBy(md5(id)).limit(n_codes)`` carrying
    ``vec_col``) evaluated the vector column — for the IVF+PQ train path
    that column is the residual projection, i.e. a full-corpus
    argmin+subtract — for EVERY row just to keep ``n_codes`` of them.
    Now job 1 ranks ids only (column pruning drops the vector subtree
    entirely), job 2 fetches the sampled rows through a pushed-down
    ``isin`` filter, so the expensive projection runs on ``n_codes``
    rows. Same rows, same floats, same books (A/B: outputs
    bit-identical; the full-pass init cost scales with the corpus, this
    one with ``n_codes``).

    Only non-NULL ids are ranked for init (an ``isin`` fetch can never
    return a NULL id); NULL-id vectors still take part in every Lloyd
    iteration. Because init evaluates ``corpus`` twice, its lineage must
    be deterministic — both scans must see the same ids. Pin or
    checkpoint a nondeterministic input first; a sampled id the second
    scan does not return raises ``ValueError``."""
    from commercepulse_data_pipeline_spark.operators.dedup import _md5_long

    key_rows = (
        corpus.select("vec_id")
        .where(F.col("vec_id").isNotNull())
        .orderBy(_md5_long(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(n_codes)
        .collect()
    )
    keys = [r[0] for r in key_rows]
    if not keys:
        raise ValueError("pq_train: empty corpus (no non-NULL ids)")
    fetched = {
        r[0]: r[1]
        for r in corpus.select("vec_id", vec_col)
        .where(F.col("vec_id").isin(keys))
        .collect()
    }
    missing = [k for k in keys if k not in fetched]
    if missing:
        raise ValueError(
            f"pq_train: sampled ids {missing} were not returned by the second "
            "corpus scan — the corpus lineage must be deterministic"
        )
    sample = [(k, fetched[k]) for k in keys]
    dim = len(sample[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    ds = dim // m
    books = [
        [list(map(float, r[1][j * ds : (j + 1) * ds])) for r in sample]
        for j in range(m)
    ]
    for _ in range(iters):
        slices = F.array(*[F.slice(F.col(vec_col), j * ds + 1, ds) for j in range(m)])
        z = _with_pq_codes(
            corpus, books, vec_col=vec_col, out_col="__codes"
        ).select(
            F.posexplode(
                F.zip_with(
                    slices,
                    F.col("__codes"),
                    lambda s, c: F.struct(s.alias("sub"), c.alias("code")),
                )
            )
        ).select(
            F.col("pos").alias("j"),
            F.col("col.code").alias("code"),
            F.col("col.sub").alias("sub"),
        )
        means = (
            z.groupBy("j", "code")
            .agg(
                *[
                    (
                        F.sum(
                            F.element_at(F.col("sub"), i + 1)
                            .cast("double")
                            .cast("decimal(30,15)")
                        ).cast("double")
                        / F.count(F.lit(1))
                    ).alias(f"m{i}")
                    for i in range(ds)
                ]
            )
            .collect()
        )
        new_books = [list(b) for b in books]
        for r in means:
            new_books[r["j"]][r["code"]] = [float(r[f"m{i}"]) for i in range(ds)]
        books = new_books
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append the m-code PQ encoding as ``pq_code`` (``array<int>``) — a
    pure codegen projection against the broadcast-literal codebooks; at
    100 TB this runs at scan speed and the codes table is ~d/m·(d→1 byte)
    smaller than the raw vectors."""
    return _with_pq_codes(corpus, books, vec_col=vec_col, out_col="pq_code")


def _pq_lut(books: list[list[list[float]]], query_vec: list[float]) -> list[list[float]]:
    """ADC lookup table: partial squared distance between the query's
    subspace slice and every codebook entry. Left-to-right float sums —
    the same IEEE order as _sq_dist's fold and the SQL replay's
    list_sum."""
    m = len(books)
    ds = len(books[0][0])
    lut = []
    for j, book in enumerate(books):
        q = [float(v) for v in query_vec[j * ds : (j + 1) * ds]]
        row = []
        for c in book:
            acc = 0.0
            for a, b in zip(q, c):
                acc += (a - b) * (a - b)
            row.append(acc)
        lut.append(row)
    return lut


def _resolve_refine(
    refine: int | float, k: int, count_corpus
) -> int:
    """Resolve the two-stage ``refine`` knob to an absolute shortlist
    width. An int is taken verbatim. A float in (0, 1) is a FRACTION OF
    THE CORPUS — ``max(k, ceil(refine * n))`` where n comes from the
    (lazily invoked) ``count_corpus`` — encoding the SCALE.md sf0.1
    recall-probe rule that a fixed width silently loses recall as the
    corpus grows (recall@100 fell 0.68 → ~0.33 at 4× corpus on
    unstructured data): the shortlist must scale WITH the data it
    shortlists from. 0 disables refinement."""
    import math

    if isinstance(refine, float):
        if refine == 0.0:
            return 0  # float zero = disabled, same as the int contract
        if not 0.0 < refine < 1.0:
            raise ValueError(
                f"fractional refine must be in (0, 1), got {refine!r}; "
                "pass an int for an absolute shortlist width"
            )
        return max(k, int(math.ceil(refine * count_corpus())))
    return refine


def pq_topk(
    encoded: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    *,
    refine: int | float = 0,
) -> DataFrame:
    """Approximate top-k by ADC over the compressed codes: per-vector
    distance = m lookups into the broadcast-literal LUT, summed in
    subspace order (an ordered double fold — exactly replayable), then
    TakeOrdered. ``refine`` > 0 re-ranks the top ``refine`` ADC
    candidates by exact cosine against ``embedding`` (must be present in
    ``encoded``) — the standard two-stage serving shape; output is then
    cosine top-k. A FLOAT refine in (0, 1) is a fraction of the corpus
    (see :func:`_resolve_refine`) — prefer it when the corpus grows
    between calls, per the SCALE.md recall probe.

    Metric caveat (ADVICE r9): the shortlist ranks by squared-L2 ADC
    while the final rank is cosine. For UNIT-NORM embeddings the two
    orders agree (||a-b||² = 2 - 2·cos); for non-unit-norm corpora the
    L2 shortlist can systematically exclude true cosine neighbors no
    matter how wide ``refine`` is — normalize the vectors before
    encoding, or evaluate recall metric-matched (tools/ann_eval.py)."""
    m = len(books)
    lut = _pq_lut(books, query_vec)
    lut_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    approx = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(lut_lit, j + 1),
            F.element_at(F.col("pq_code"), j + 1) + 1,
        ),
    )
    scored = encoded.withColumn("__appd", approx)
    refine = _resolve_refine(refine, k, encoded.count)
    if refine:
        cands = (
            scored.orderBy(F.col("__appd").asc(), F.col("vec_id").asc())
            .limit(refine)
            .drop("__appd")
        )
        return cosine_topk(cands, query_vec, k)
    return (
        scored.select(
            "vec_id", F.round(F.col("__appd"), 6).alias("approx_d2")
        )
        .orderBy(F.col("approx_d2").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def write_pq_index(
    encoded: DataFrame,
    path: str,
    *,
    books: list[list[list[float]]],
) -> None:
    """Persist the compressed index: the codes table (id + m ints — the
    only thing a query scans) and the codebooks beside it."""
    encoded.select("vec_id", "pq_code").write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    spark = encoded.sparkSession
    rows = [
        (j, c, [float(v) for v in vec])
        for j, book in enumerate(books)
        for c, vec in enumerate(book)
    ]
    one_slice_df(
        spark, rows, "j int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/books")


def read_pq_books(spark: SparkSession, path: str) -> list[list[list[float]]]:
    """Load a persisted codebook table (``{path}/books``, written by
    :func:`write_pq_index` / :func:`write_ivfpq_index`) back into the
    in-memory ``books[j][code]`` shape. Bounded driver work: the table is
    m·n_codes rows regardless of corpus size."""
    brows = spark.read.parquet(f"{path}/books").collect()
    m = 1 + max(r["j"] for r in brows)
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(brows, key=lambda r: (r["j"], r["code"])):
        books[r["j"]].append(list(r["centroid"]))
    return books


def pq_topk_indexed(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Query the persisted PQ index: load the (tiny) codebooks, ADC over
    the codes table. The raw vectors are never read."""
    books = read_pq_books(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    return pq_topk(codes, books, query_vec, k)


def pq_knn_join(
    codes: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    *,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Batch ADC: k approximate nearest corpus vectors for EACH query row,
    computed entirely in the COMPRESSED domain — SMALL query side only
    (the knn_join contract, enforced by ``max_queries`` — see
    :func:`_check_query_side`; ``None`` opts out). Each broadcast query
    row carries its own precomputed m × n_codes LUT (built ONCE per query
    as a projection against the literal codebooks), so the per-(corpus,
    query) pair cost is m array lookups summed in subspace order — not a
    d-dim distance. The corpus side scans only the codes table: raw
    vectors are never read. Output: query_id, neighbor_id, approx_d2,
    rank (ascending distance; ties -> lowest neighbor_id)."""
    _check_query_side(queries, max_queries, "pq_knn_join")
    m = len(books)
    ds = len(books[0][0])
    books_lit = F.array(
        *[
            F.array(*[F.array(*[F.lit(v) for v in c]) for c in book])
            for book in books
        ]
    )
    qv = F.col(query_vec)
    lut = F.array(
        *[
            F.array(
                *[
                    _sq_dist(
                        F.slice(qv, j * ds + 1, ds),
                        F.element_at(F.element_at(books_lit, j + 1), c + 1),
                    )
                    for c in range(len(books[j]))
                ]
            )
            for j in range(m)
        ]
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"), lut.alias("__lut")
        )
    )
    approx = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("__lut"), j + 1),
            F.element_at(F.col(code_col), j + 1) + 1,
        ),
    )
    scored = codes.crossJoin(q).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        approx.alias("approx_d2"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("approx_d2", 6).alias("approx_d2"),
            "rank",
        )
    )


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    *,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """ANN evaluation harness — measure, don't guess: per-query
    recall@k of an approximate top-k result against the exact ground
    truth (both as (query, neighbor[, rank]) tables, e.g. ``knn_join``
    vs ``pq_knn_join`` / an LSH or IVF probe). Semi-join the rank<=k
    rows, count hits per query, divide by the query's exact count
    (<= k — short corpora have fewer true neighbors). Returns one row
    per query plus mean recall available as avg(recall) downstream.
    Distributed shape: two rank filters + one equi-join on (query,
    neighbor) — evaluation costs no more than the joins it grades."""
    ex = exact.where(F.col("rank") <= k).select(
        F.col(query_col).alias("__q"), F.col(neighbor_col).alias("__n")
    )
    ap = approx.where(F.col("rank") <= k).select(
        F.col(query_col).alias("__q"), F.col(neighbor_col).alias("__n")
    )
    hits = ex.join(ap, ["__q", "__n"], "left_semi").groupBy("__q").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    totals = ex.groupBy("__q").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        totals.join(hits, "__q", "left")
        .select(
            F.col("__q").alias(query_col),
            F.col("n_true"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0))
                / F.col("n_true").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    *,
    n_centroids: int = 16,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 1,
) -> None:
    """IVF+PQ — the canonical billion-scale ANN layout (FAISS IVFPQ
    shape, Jégou et al. 2011 §IV): an IVF coarse quantizer partitions
    the corpus into inverted lists (probes = partition PRUNING on disk),
    and inside the lists vectors are stored as PQ codes of their
    RESIDUALS from the list centroid — the residual distribution is far
    tighter than the raw corpus, so the same code budget quantizes much
    finer. Persists: codes partitioned by centroid_id, the centroid
    table, and the residual codebooks."""
    assigned, cents = ivf_assign(corpus, n_centroids=n_centroids, iters=iters)
    resid = _with_residual(
        assigned, [c for _, c in sorted(cents)], vec_col="embedding"
    )
    books = pq_train(
        resid, vec_col="__resid", m=m, n_codes=n_codes,
        iters=iters,
    )
    encoded = pq_encode(resid, books, vec_col="__resid")
    # rebalance before the partitioned write: an unbalanced partitionBy
    # emits (input partitions × list values) files (256 tiny files → 8
    # at bench shape; measured ~2× faster write)
    encoded.select("vec_id", "centroid_id", "pq_code").hint(
        "rebalance", "centroid_id"
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(f"{path}/codes")
    spark = corpus.sparkSession
    one_slice_df(
        spark,
        [(cid, [float(v) for v in c]) for cid, c in cents],
        "centroid_id int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    rows = [
        (j, c, [float(v) for v in vec])
        for j, book in enumerate(books)
        for c, vec in enumerate(book)
    ]
    one_slice_df(
        spark, rows, "j int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/books")


def ivfpq_topk(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    *,
    nprobe: int = 2,
    refine: int | float = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Query the IVF+PQ index: rank centroids driver-side (tiny), scan
    only the ``nprobe`` nearest lists (partition pruning — non-probed
    lists' files are never opened), and rank by ADC against a PER-LIST
    LUT built from the query's residual to that list's centroid. Raw
    vectors are never read; per-row cost is m lookups.

    ``refine`` > 0 re-ranks the top ``refine`` ADC candidates by exact
    cosine against ``corpus`` (id → vector; a broadcast semi-join pulls
    only the shortlist's vectors) — the standard two-stage contract:
    ADC ranks LISTS/clusters, the refine stage ranks members (the recall
    probe in SCALE.md measures exactly this split). A FLOAT refine in
    (0, 1) is a fraction of the code-table size (see
    :func:`_resolve_refine`): the SCALE.md sf0.1 probe showed a FIXED
    width silently loses recall as the corpus grows, so growing stores
    should pass the fractional form. Unit-norm caveat as in
    :func:`pq_topk`: the L2-ADC shortlist only agrees with the cosine
    re-rank on unit-norm embeddings — normalize before encoding."""
    cents = sorted(
        (r["centroid_id"], list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    books = read_pq_books(spark, path)
    mm = len(books)

    def d2(c: list[float]) -> float:
        return sum((a - b) * (a - b) for a, b in zip(query_vec, c))

    probe = [cid for cid, c in sorted(cents, key=lambda t: d2(t[1]))[:nprobe]]
    cent_map = dict(cents)
    # one codes read shared by every probed list (ADVICE r9: re-reading
    # per probe re-listed the store once per list) — the per-list LUT and
    # centroid_id filter are what vary per probe
    src = spark.read.parquet(f"{path}/codes")
    refine = _resolve_refine(refine, k, lambda: src.count())
    out = None
    for cid in probe:
        # per-list LUT: the query RESIDUAL to this list's centroid
        q_res = [
            float(q) - c for q, c in zip(query_vec, cent_map[cid])
        ]
        lut = _pq_lut(books, q_res)
        lut_lit = F.array(*[F.array(*[F.lit(v) for v in row]) for row in lut])
        approx = F.aggregate(
            F.sequence(F.lit(0), F.lit(mm - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.element_at(lut_lit, j + 1),
                F.element_at(F.col("pq_code"), j + 1) + 1,
            ),
        )
        part = (
            src.where(F.col("centroid_id") == cid)
            .select("vec_id", approx.alias("__appd"))
        )
        out = part if out is None else out.unionByName(part)
    if refine:
        if corpus is None:
            raise ValueError("refine > 0 needs corpus= (id -> vector)")
        shortlist = (
            out.orderBy(F.col("__appd").asc(), F.col("vec_id").asc())
            .limit(refine)
            .select("vec_id")
        )
        cands = corpus.join(F.broadcast(shortlist), "vec_id", "left_semi")
        return cosine_topk(cands, query_vec, k)
    return (
        out.select("vec_id", F.round("__appd", 6).alias("approx_d2"))
        .orderBy(F.col("approx_d2").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def label_centroid_outliers(
    df: DataFrame,
    *,
    top_n: int = 3,
) -> DataFrame:
    """Per-class embedding-space outlier mining: the ``top_n`` vectors
    FARTHEST (squared L2) from their own label's centroid — the standard
    curation pass for surfacing mislabeled / junk / off-distribution
    samples in a labeled embedding corpus before training on it (the
    same centroid-distance heuristic data-quality tooling applies to
    classifier training sets).

    Distributed shape: ONE corpus scan computes per-(label, dim) DECIMAL
    sums (exact, partition-order-free — the ``ivf_assign`` mean
    discipline, so centroid doubles replay bit-for-bit in the oracle);
    the centroid table (n_labels × dim, kilobytes) broadcast-joins back
    for a second scan scoring every vector against its own centroid
    (a sequential-fold ``_sq_dist`` — replayable IEEE order); the rank
    window ships only (label, id, distance) rows and Spark's
    WindowGroupLimit pushes ``top_n`` map-side. No crossJoin, no
    driver-side corpus state — survives any corpus size with bounded
    (n_labels × dim) driver work.

    Ranking is on the 6-dp ROUNDED distance with id tiebreak (the
    ``hard_negatives`` contract: band/rank decisions agree bit-for-bit
    with the SQL replay). Output: label, vec_id, centroid_d2, rank."""
    first = df.select("embedding").head()
    if first is None or first[0] is None:
        raise ValueError(
            "label_centroid_outliers: cannot infer vector dimension — the "
            "corpus is empty or its first `embedding` is NULL (ADVICE r11)."
        )
    dim = len(first[0])
    sums = df.groupBy("label").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.element_at(F.col("embedding"), i + 1)
                .cast("double")
                .cast("decimal(30,15)")
            ).alias(f"__s{i}")
            for i in range(dim)
        ],
    )
    cents = sums.select(
        "label",
        F.array(
            *[
                (F.col(f"__s{i}").cast("double") / F.col("__n")).alias(f"__c{i}")
                for i in range(dim)
            ]
        ).alias("__cent"),
    )
    scored = df.join(F.broadcast(cents), "label").select(
        "label",
        "vec_id",
        F.round(_sq_dist(F.col("embedding"), F.col("__cent")), 6).alias("centroid_d2"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("centroid_d2").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
    )


def score_pairs(
    pairs: DataFrame,
    vectors: DataFrame,
) -> DataFrame:
    """Attach embedding cosine similarity to an EXISTING candidate-pair
    list — the semantic CONFIRM stage of a two-signal dedup: a lexical
    blocker (MinHash / SimHash / n-gram posting lists) proposes pairs,
    this scores each pair against the vector table, and the caller
    thresholds. It never generates pairs itself, so the cost is
    O(|pairs|) join work over a candidate-sized (bucket-capped upstream)
    list — the quadratic pair space stays dead.

    Scale shape: two equi-joins pair-list↔vectors (shuffle keys
    ``id_a`` then ``id_b``; Catalyst broadcasts the vector side when its
    stats allow); the cosine is the same codegen'd sequential fold as
    ``knn_join`` (:func:`_dot`), so scores replay bit-for-bit in a SQL
    twin. A pair whose vector is missing or zero-norm gets NULL
    ``cosine_sim`` (kept — the caller decides what a missing signal
    means). Output: the pair list's columns + ``cosine_sim`` (rounded
    6dp — the ``hard_negatives`` tie/threshold contract). ``cosine_sim``
    is a RESERVED output name: a pair list that already carries one
    (e.g. raw ``knn_join_self`` output) raises — rename or drop the
    blocker's score first, so two scores from different vector tables
    can never be silently confused (r12 review finding)."""
    if "cosine_sim" in pairs.columns:
        raise ValueError(
            "score_pairs: the pair list already has a 'cosine_sim' column "
            "(the reserved output name) — rename or drop the blocker's "
            "score before re-scoring, so the two signals stay distinct."
        )
    va = vectors.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    vb = vectors.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    denom = _norm(F.col("__va")) * _norm(F.col("__vb"))
    return (
        pairs.join(va, "id_a", "left")
        .join(vb, "id_b", "left")
        .withColumn(
            "cosine_sim",
            F.round(
                F.when(denom > 0, _dot(F.col("__va"), F.col("__vb")) / denom), 6
            ),
        )
        .select(*pairs.columns, "cosine_sim")
    )


def margin_knn_join(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
) -> DataFrame:
    """Margin-based bitext candidate mining (Artetxe & Schwenk 2019,
    ratio margin): for every ``src`` row, its k nearest ``tgt`` rows
    scored by cosine RELATIVE to both sides' own neighborhood averages —

        margin(x, y) = cos(x, y) / ((avgk_fwd(x) + avgk_bwd(y)) / 2)

    — the criterion that suppresses hubness: a target close to
    EVERYTHING has a high avgk_bwd, so its raw-cosine false friends fall
    below threshold, which is why mining on raw cosine alone is known to
    be unreliable. The standard rule keeps margin_rank=1 pairs above a
    threshold (~1.05); this returns all k candidates with margins, for the
    caller to filter.

    Cross-engine determinism: neighbor cosines are the 6dp-rounded
    ``knn_join`` outputs; each side's neighborhood average stays an
    EXACT decimal sum with its own count, and the margin is computed as
    ONE double division of exact-ingredient products —
    ``cos · (2·cf·cb) / (sf·cb + sb·cf)`` — then rounded to 6dp, so
    margins and margin ranks replay bit-for-bit in a SQL twin.

    Scale shape: two broadcast-query ``knn_join`` passes (src→tgt and
    tgt→src; each side is broadcast ONCE, so ``knn_join``'s ``max_queries``
    applies to both — bitext mining runs per language-pair shard in practice), two
    per-row average aggregates, and two joins of the k·|src| candidate
    list against them. For corpus-scale self-mining use the LSH-blocked
    ``knn_join_self`` shape instead of broadcasting. Output: src_id,
    tgt_id, cosine_sim, margin, margin_rank (per src: margin desc,
    tgt_id tiebreak)."""
    fwd = pin(
        knn_join(
            tgt, src, k=k, exclude_self=False,
        ).select(
            F.col("query_id").alias("src_id"),
            F.col("neighbor_id").alias("tgt_id"),
            "cosine_sim",
        ),
        eager=False,
    )
    # ^ fwd feeds its own neighborhood average AND the scored join;
    # uncut, the forward brute-force knn pass over the corpus executed
    # twice (r15 optimization pass). k·|src| rows — bounded by
    # max_queries·k — so the lazy pin is tiny; the average's broadcast
    # build materializes it.
    bwd = knn_join(
        src, tgt, k=k, exclude_self=False,
    )
    dec = "decimal(18,6)"
    af = fwd.groupBy("src_id").agg(
        F.sum(F.col("cosine_sim").cast(dec)).alias("__sf"),
        F.count(F.lit(1)).alias("__cf"),
    )
    ab = bwd.groupBy("query_id").agg(
        F.sum(F.col("cosine_sim").cast(dec)).alias("__sb"),
        F.count(F.lit(1)).alias("__cb"),
    ).select(F.col("query_id").alias("tgt_id"), "__sb", "__cb")
    num = F.col("cosine_sim") * (
        F.lit(2) * F.col("__cf") * F.col("__cb")
    ).cast("double")
    den = (
        F.col("__sf") * F.col("__cb") + F.col("__sb") * F.col("__cf")
    ).cast("double")
    scored = (
        fwd.join(af, "src_id")
        .join(ab, "tgt_id")
        .withColumn("margin", F.round(F.when(den > 0, num / den), 6))
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id").asc()
    )
    out = scored.withColumn("margin_rank", F.row_number().over(w)).select(
        "src_id", "tgt_id", "cosine_sim", "margin", "margin_rank"
    )
    return out


def pair_threshold_sweep(
    scored_pairs: DataFrame,
    thresholds: tuple[float, ...] = (0.80, 0.85, 0.90, 0.95),
) -> DataFrame:
    """Confirm-threshold calibration for two-signal dedup: given a
    candidate-pair list already scored by :func:`score_pairs`, report —
    for each candidate τ — how many pairs the semantic gate would
    confirm. The table a curation team reads before picking
    ``--confirm-tau``: too low and the gate rubber-stamps the lexical
    blocker, too high and near-verbatim mirrors survive (every
    threshold decision should be made from this sweep, not re-scoring
    runs).

    Output: one row per τ — ``tau``, ``n_pairs`` (candidates),
    ``n_scored`` (pairs with vector evidence; NULL-scored pairs can
    never confirm), ``n_confirmed`` (score ≥ τ), ``confirm_rate``
    (= n_confirmed / n_scored, 6dp; NULL when nothing is scored).

    Scale shape: ONE aggregation pass over the pair list computing every
    threshold as a conditional sum (map-side combinable), then a
    constant-size ``stack`` unpivot of the single wide row — the pair
    list is never exploded |thresholds|×, and the output is
    len(thresholds) rows regardless of corpus size."""
    if not thresholds:
        raise ValueError("pair_threshold_sweep: need at least one threshold")
    taus = [float(t) for t in thresholds]
    if len(set(taus)) != len(taus):
        raise ValueError(f"pair_threshold_sweep: duplicate thresholds in {taus}")
    s = F.col("cosine_sim")
    aggs = [
        F.count(F.lit(1)).alias("__n_pairs"),
        F.count(s).alias("__n_scored"),
    ] + [
        F.sum((s >= F.lit(t)).cast("long")).alias(f"__c{i}")
        for i, t in enumerate(taus)
    ]
    wide = scored_pairs.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), __c{i}" for i, t in enumerate(taus)
    )
    return (
        wide.select(
            "__n_pairs",
            "__n_scored",
            F.expr(
                f"stack({len(taus)}, {stack_args}) AS (tau, n_confirmed)"
            ),
        )
        .select(
            "tau",
            F.col("__n_pairs").alias("n_pairs"),
            F.col("__n_scored").alias("n_scored"),
            F.coalesce(F.col("n_confirmed"), F.lit(0)).alias("n_confirmed"),
            F.when(
                F.col("__n_scored") > 0,
                F.round(
                    F.col("n_confirmed").cast("double")
                    / F.col("__n_scored").cast("double"),
                    6,
                ),
            ).alias("confirm_rate"),
        )
        .orderBy("tau")
    )
