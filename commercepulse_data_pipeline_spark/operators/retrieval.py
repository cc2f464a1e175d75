"""BM25 full-text retrieval over a document corpus — the targeted
subset-mining primitive a training-data pipeline uses to pull
topic-relevant slices out of a web-scale corpus (seed-query expansion,
domain probes, eval-set neighborhood audits) and the scoring core of a
RAG passage store.

The reference has no retrieval surface; this is extension tier, built
Spark-first (Robertson et al. BM25, public knowledge).

Scale shape: for a FIXED query of m terms the whole scorer is two
corpus passes and zero wide shuffles —

  pass 1 (map-only projection): one let-bound tokenization per doc
      producing ``(dl, tf_0 … tf_{m-1})``; the token array is evaluated
      exactly once per row regardless of m (``functions/expr.py::let``).
  stats (1-row aggregate): ``N``, ``Σdl`` and per-term document
      frequencies reduce with map-side combine to a single row, which
      BROADCASTS back over the per-doc table.
  pass 2 (map-only scoring): BM25 is then a pure projection; the top-k
      is ``orderBy().limit(k)`` → ``TakeOrderedAndProject`` (per-partition
      heaps + a k-row driver merge), never a global sort.

The per-doc table is localCheckpoint'ed because it feeds both the stats
aggregate and the scoring pass — without the pin Spark re-tokenizes the
corpus per consumer (no subplan sharing across DataFrame branches).

Cross-engine determinism (DECISIONS.md rule): the only transcendental,
``log2`` in the idf, is QUANTIZED to DECIMAL(30,6) immediately — JVM
StrictMath and libm log2 differ by 1 ulp on ~a third of inputs (the
unigram-CE precedent, operators/text.py). Everything else is basic IEEE
arithmetic on identical operands in a FIXED association order (the
per-term sum is built left-to-right in query-term order on both
engines), so scores replay bit-identically in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df

from ..functions.expr import let
from ..sources import readers
from ..streaming import batches
from .text import rle_counts, tokens

# BM25 term-saturation and length-normalization constants (the Lucene defaults)
BM25_K1 = 1.2
BM25_B = 0.75


def _validate_terms(query_terms: list[str]) -> list[str]:
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    lowered = [t.lower() for t in query_terms]
    if len(set(lowered)) != len(lowered):
        raise ValueError(f"query_terms must be distinct (got {query_terms!r})")
    for t in lowered:
        if not t or any(c.isspace() for c in t):
            raise ValueError(f"query terms must be non-empty and whitespace-free, got {t!r}")
    return lowered


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score every document containing ≥1 query term with BM25.

    ``idf(t) = log2(1 + (N - df_t + 0.5) / (df_t + 0.5))`` — the
    Lucene-style shifted idf (non-negative for any df; log base only
    scales all scores, ranking is base-invariant), quantized to
    DECIMAL(30,6) for cross-engine replay.

    ``score(d) = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    with ``k1 = BM25_K1``, ``b = BM25_B``, summed left-to-right in ``query_terms`` order.

    Output: one row per matching doc — ``id_col``, any ``extra_cols``
    passed through, ``n_match`` (query terms present), ``dl`` (doc token
    length), ``score`` (rounded to 6). Docs matching no term are dropped
    (their score is exactly 0), so downstream top-k inputs are bounded
    by the posting-list mass, not the corpus.
    """
    terms = _validate_terms(query_terms)
    m = len(terms)

    def _tf(t: Column, term: str) -> Column:
        # single-arg lambda on purpose: a two-arg lambda would be called
        # as (element, index) by the higher-order-function binder
        return F.size(F.filter(t, lambda x: x == F.lit(term)))

    def body(t: Column) -> Column:
        fields = [F.size(t).cast("long").alias("dl")]
        for i, term in enumerate(terms):
            fields.append(_tf(t, term).cast("long").alias(f"tf{i}"))
        return F.struct(*fields)

    base = (
        df.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            let(tokens(F.col(text_col)), body).alias("__s"),
        )
        .select(id_col, *extra_cols, "__s.*")
        .localCheckpoint(eager=False)
    )

    stats = base.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("dl").alias("__sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(m)
        ],
    )

    avgdl = F.col("__sum_dl").cast("double") / F.col("__n_docs")
    # Fixed left-to-right sum in query-term order; the oracle writes the
    # same association. All float literals cross as Python-repr strings
    # (shortest round-trip), parsing to identical doubles in both engines.
    score: Column | None = None
    n_match: Column | None = None
    for i in range(m):
        idf = (
            F.log2(
                F.lit(1.0)
                + (F.col("__n_docs") - F.col(f"__df{i}") + F.lit(0.5))
                / (F.col(f"__df{i}") + F.lit(0.5))
            )
            .cast("decimal(30,6)")
            .cast("double")
        )
        tf = F.col(f"tf{i}").cast("double")
        norm = (tf * F.lit(BM25_K1 + 1.0)) / (
            tf
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))
        )
        term_score = idf * norm
        hit = (F.col(f"tf{i}") > 0).cast("int")
        score = term_score if score is None else score + term_score
        n_match = hit if n_match is None else n_match + hit

    return (
        base.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            n_match.cast("int").alias("n_match"),
            F.col("dl"),
            F.round(score, 6).alias("score"),
        )
        .where(F.col("n_match") > 0)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 10,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Top-k BM25 hits: ``rank`` (1-based), then the ``bm25_score``
    columns. Deterministic total order — score desc, then ``id_col`` asc
    as the tiebreak — so the cut is reproducible across engines and
    retries. The limit runs as ``TakeOrderedAndProject`` (no global
    sort); the rank window then orders only the k surviving rows."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    scored = bm25_score(
        df, query_terms, text_col, id_col, extra_cols=extra_cols
    )
    return _ranked_topk(scored, id_col, k, extra_cols)


def _ranked_topk(
    scored: DataFrame, id_col: str, k: int, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Shared top-k + rank shape for both scorers: (score desc, id asc)
    deterministic total order, TakeOrderedAndProject limit, then the
    rank window over only the k survivors."""
    from pyspark.sql import Window

    top = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.select(
        F.row_number().over(w).alias("rank"),
        id_col,
        *extra_cols,
        "n_match",
        "dl",
        "score",
    )


def _postings_from_staged(staged: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    """(id, term, tf, dl, term_bucket) posting rows from the
    ``_index_slice`` staging's per-doc ``__rle`` (distinct terms with
    within-doc counts) — what explodes is distinct terms per doc, not
    occurrences."""
    from ..functions.hashing import stable_bucket

    return (
        staged.select(
            F.col(id_col), F.col("__dl").alias("dl"), F.explode_outer("__rle").alias("__p")
        )
        .where(F.col("__p").isNotNull())
        .select(
            id_col,
            F.col("__p.value").alias("term"),
            F.col("__p.cnt").cast("long").alias("tf"),
            "dl",
        )
        .withColumn("term_bucket", stable_bucket(F.col("term"), n_buckets))
    )


def _positional_postings(toked: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    """(id, term, tf, dl, pos, term_bucket) postings with sorted 0-based
    occurrence offsets — one occurrence explode + one (doc, term)-keyed
    combine (the extra shuffle the positional layout pays)."""
    from ..functions.hashing import stable_bucket

    ex = toked.select(
        F.col(id_col),
        F.col("__dl"),
        F.posexplode_outer("__toks").alias("__pos", "term"),
    ).where(F.col("term").isNotNull())
    return (
        ex.groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.max("__dl").alias("dl"),
            F.sort_array(F.collect_list("__pos")).alias("pos"),
        )
        .withColumn("term_bucket", stable_bucket(F.col("term"), n_buckets))
    )


# One row per written slice of the corpus (a stream micro-batch, a build
# or an append): its doc count n, its token mass s and the layout params
# every slice of one index must share.
_STATS_SCHEMA = "n long, s long, n_buckets int, id_col string, positions boolean"


def _index_slice(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int, positions: bool
) -> tuple[DataFrame, DataFrame]:
    """The (stats, postings) frames of one slice of the corpus, the
    staging both index writers share (``write_text_index`` and
    ``streaming/retrieval.py::text_index_batch``). Stats is one
    ``_STATS_SCHEMA`` row; zero-token docs hold no postings but DO count
    in ``n``, matching the scan scorer's N. Postings are one row per
    (doc, distinct term) with ``(id, term, tf, dl, term_bucket)``, plus
    ``pos`` when ``positions``.

    Writers land stats FIRST, postings second: a serve racing a
    half-written slice (or reading after a crash between the two writes)
    then sees stats that count docs whose postings are not yet visible,
    which only UNDER-ranks and converges on a re-run. The opposite order
    would score visible postings against stats that undercount the
    corpus — systematically inflated scores, the worse silent failure."""
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks")).withColumn(
        "__dl", F.size("__toks").cast("long")
    )
    if not positions:
        staged = staged.withColumn(
            "__rle", rle_counts(F.array_sort(F.col("__toks")))
        ).drop("__toks")
    staged = staged.localCheckpoint(eager=False)  # feeds postings AND the stats agg
    row = staged.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("__dl"), F.lit(0)).alias("s")
    ).head()
    stats = one_slice_df(
        df.sparkSession,
        [(int(row["n"]), int(row["s"]), n_buckets, id_col, positions)],
        _STATS_SCHEMA,
    )
    postings = (_positional_postings if positions else _postings_from_staged)(
        staged, id_col, n_buckets
    )
    return stats, postings


def write_text_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    mode: str = "overwrite",
    positions: bool = False,
) -> None:
    """Persist the corpus's inverted index — the BM25 SERVING artifact
    (mirroring ``write_minhash_index`` / ``similarity.write_pq_index``).
    It is the store ``streaming/retrieval.py::text_index_batch`` grows,
    with the build as its consolidated partition
    (``ingest_batch=-1``):

      postings/ingest_batch=N/term_bucket=B/   one row per (doc, distinct
                                               term): (id, term, tf, dl)
      stats/ingest_batch=N/                    one ``_STATS_SCHEMA`` row
                                               per written slice

    ``term_bucket = stable_bucket(term, n_buckets)``, so a query's probe
    reads ONLY its terms' partitions (directory pruning, then a
    term-isin row-group filter inside them); ``_index_stats`` sums the
    stats rows into the corpus stats BM25 needs at query time.

    Per-doc term counts come array-side (the ``rle_counts`` sorted-run
    idiom — what explodes is distinct terms per doc, not occurrences),
    so the build is one map pass + one partitioned write.

    ``mode="overwrite"`` replaces the whole store, stream partitions
    included. ``mode="append"`` is the incremental-ingest path: the
    store's layout params must match (appending under a different bucket
    count would make old postings unreachable by pruning), and the
    batch's postings and one stats row append to the consolidated
    partition. An append is not idempotent: re-running it counts the
    batch twice.

    ``positions=True`` builds a POSITIONAL index: postings gain a
    ``pos`` column (sorted 0-based token offsets of every occurrence),
    enabling exact phrase search (``phrase_topk``) at the cost of one
    extra shuffle at build time (occurrence explode + per-(doc, term)
    collect, instead of the array-side distinct-term pass) and the
    position mass on disk. The flag is a LAYOUT param carried by every
    stats row, so appends can't mix positional and plain postings.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    if mode == "append" and _index_exists(df.sparkSession, path):
        params = {"n_buckets": n_buckets, "id_col": id_col, "positions": positions}
        existing = _index_stats(df.sparkSession, path)
        have = {k: existing[k] for k in params}
        if have != params:
            raise ValueError(
                f"append with params {params} != index params {have}; "
                "rebuilding the index is the only safe migration"
            )

    stats, postings = _index_slice(df, text_col, id_col, n_buckets, positions)
    batches.write_consolidated(stats, f"{path}/stats", mode)
    # rebalance-before-partitionBy (guide §6): without it the write emits
    # (input partitions × term buckets) files per build/append
    batches.write_consolidated(
        postings.hint("rebalance", "term_bucket"), f"{path}/postings", mode, "term_bucket"
    )


def _index_exists(spark, path: str) -> bool:
    """Whether the text index at ``path`` has a stats store yet, asked of
    the listing (``readers.store_partitions``) before anything is read;
    a non-local index asks its Hadoop filesystem."""
    root = f"{path.rstrip('/')}/stats"
    if readers.local_path(spark, root) is not None:
        return bool(readers.store_partitions(spark, root))
    jpath = spark._jvm.org.apache.hadoop.fs.Path(root)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def _index_stats(spark, path: str) -> dict:
    """The text index's corpus stats and layout: ``n_docs`` and
    ``sum_dl`` summed over every stats row, and the ``n_buckets``,
    ``id_col`` and ``positions`` they all carry. A store whose rows
    disagree is refused. Summing is replay-safe: a replayed stream batch
    overwrites its own stats partition.

    Every query reads this, so its cost is fixed latency. A local index
    (``readers.local_path``) has its rows read on the driver with
    pyarrow from the files of ``readers.store_partitions(<path>/stats)``,
    so a running or interrupted ``compact-index`` fold of ``stats/`` is
    read as the store before or after it; a ``file:`` URI never touches
    the session. A non-local index goes through the Spark reader with an
    explicit schema (no schema-inference job)."""
    cols = ["n", "s", "n_buckets", "id_col", "positions"]
    root = f"{path.rstrip('/')}/stats"
    if readers.local_path(spark, root) is not None:
        import pyarrow.parquet as pq

        rows = [
            tuple(r[c] for c in cols)
            for d in readers.store_partitions(spark, root).values()
            for f in sorted(readers._data_files(d, "*.parquet"))
            for r in pq.ParquetFile(f).read(columns=cols).to_pylist()
        ]
    else:
        rows = [
            tuple(r)
            for r in spark.read.schema(_STATS_SCHEMA).parquet(root).select(*cols).collect()
        ]
    if not rows:
        raise FileNotFoundError(f"no text index stats under {root}")
    layouts = {r[2:] for r in rows}
    if len(layouts) != 1:
        raise ValueError(
            f"inconsistent index params at {path}: "
            f"(n_buckets, id_col, positions) in {sorted(layouts)}"
        )
    ((n_buckets, id_col, positions),) = layouts
    return {
        "n_docs": sum(r[0] for r in rows),
        "sum_dl": sum(r[1] for r in rows),
        "n_buckets": n_buckets,
        "id_col": id_col,
        "positions": positions,
    }


def _probe_buckets(spark, terms: list[str], n_buckets: int) -> list[int]:
    """Bucket ids for a query's terms under EXACTLY the index's
    ``stable_bucket`` expression, evaluated WITHOUT launching a Spark job
    (r15 optimization pass): the terms enter as literals over a 1-row
    LocalRelation, so Catalyst's ConvertToLocalRelation constant-folds
    the deterministic pmod(xxhash64(...)) projection at optimization
    time and ``head()`` is a driver-local read — the same JVM arithmetic
    the postings were bucketed with (never a Python reimplementation,
    which could drift), at plan cost instead of job cost. Returns the
    sorted distinct bucket list for partition pruning."""
    from ..functions.hashing import stable_bucket

    # spark.sql("SELECT 1") is a OneRowRelation — unlike
    # spark.createDataFrame, which parallelizes an RDD and therefore
    # cannot constant-fold — so the projection below collapses to a
    # LocalRelation during optimization and head() never leaves the
    # driver (verified: zero jobs).
    row = (
        spark.sql("SELECT 1")
        .select(
            *[
                stable_bucket(F.lit(t), n_buckets).alias(f"b{i}")
                for i, t in enumerate(terms)
            ]
        )
        .head()
    )
    return sorted({int(v) for v in row})


def _probed_postings(spark, path: str, terms: list[str], buckets: list[int]):
    """The bucket-pruned, term-filtered postings scan shared by the
    indexed serving paths — split out so the partition-pruning plan
    regression asserts on the probe itself (the serving path pins the
    probe's result, so the FINAL plan reads the pinned RDD). A local
    index is read through ``readers.fold_consistent_read`` (a plain root
    read at rest, so the ``term_bucket`` filter still prunes
    directories); a non-local one with a plain Spark read."""
    root = f"{path.rstrip('/')}/postings"
    if readers.local_path(spark, root) is not None:
        postings = readers.fold_consistent_read(spark, root)
    else:
        postings = spark.read.parquet(root)
    return postings.where(F.col("term_bucket").isin(buckets) & F.col("term").isin(terms))


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    *,
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 from the PERSISTED inverted index — the serving path:
    per-query cost is the probed terms' partitions, never a corpus
    scan. Probe shape: the query terms' bucket ids (computed by the
    same ``stable_bucket`` expression on a 1-row-per-term frame — a
    bounded m-row collect) prune ``postings/`` directories; a
    ``term IN (…)`` filter then pushes into the surviving row groups;
    per-term document frequencies reduce from the probed postings (an
    m-row aggregate, broadcast back); the per-doc sum is ONE shuffle
    over candidate docs (posting mass of the query, not corpus size);
    top-k is TakeOrderedAndProject.

    Determinism: the per-doc sum is over a GROUP (shuffle order is not
    fixed), so each term's contribution is quantized to DECIMAL(30,10)
    and summed EXACTLY — order-independent — then rounded to 6, unlike
    the scan scorer's fixed-order double sum; the two scorers therefore
    agree to ~1e-6 (ranking-identical in practice) but are separately
    oracle'd. Same output shape as ``bm25_topk``."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    terms = _validate_terms(query_terms)
    stats = _index_stats(spark, path)
    n_docs, sum_dl = stats["n_docs"], stats["sum_dl"]
    n_buckets, id_col = stats["n_buckets"], stats["id_col"]

    buckets = _probe_buckets(spark, terms, n_buckets)
    # `probed` (the posting mass of the query's terms — probe-bounded by
    # the bucket+term filters, never corpus-sized) feeds TWO consumers:
    # the df aggregate and the scoring join. r15 left it unpinned to keep
    # PartitionFilters visible in the final plan; r16 (VERDICT r15 item
    # 6) pins it LAZILY — the df aggregate's broadcast build materializes
    # the pruned scan once and the scoring join reads executor cache,
    # cutting the second listing+scan pass per query. The
    # PartitionFilters regression evidence moved to the probe subplan
    # (tests/test_plans.py asserts it on _probed_postings directly). The
    # pin is executor-local whatever ``set_pin_policy`` says: a query is
    # short and can be re-issued if an executor is lost, and a reliable
    # checkpoint would write files per query that nothing deletes.
    probed = _probed_postings(spark, path, terms, buckets).localCheckpoint(eager=False)
    dfs = probed.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    avgdl = F.lit(sum_dl).cast("double") / F.lit(n_docs)
    idf = (
        F.log2(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        .cast("decimal(30,6)")
        .cast("double")
    )
    tf = F.col("tf").cast("double")
    norm = (tf * F.lit(BM25_K1 + 1.0)) / (
        tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))
    )
    scored = (
        probed.join(F.broadcast(dfs), "term")
        .select(
            F.col(id_col),
            F.col("dl"),
            (idf * norm).cast("decimal(30,10)").alias("__ts"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_match"),
            F.max("dl").alias("dl"),
            F.round(F.sum("__ts").cast("double"), 6).alias("score"),
        )
    )
    return _ranked_topk(scored, id_col, k)


def phrase_topk(
    spark,
    path: str,
    phrase_terms: list[str],
    *,
    k: int = 10,
) -> DataFrame:
    """Exact-phrase search from a POSITIONAL index
    (``write_text_index(..., positions=True)``): top-k docs by how many
    times the phrase occurs verbatim — the precision companion to the
    bag-of-words BM25 scorers (quoted-query retrieval, boilerplate/
    attribution lookup, contamination spot checks by exact string).

    Probe shape matches ``bm25_topk_indexed`` (bucket-pruned read of the
    phrase's DISTINCT terms, one candidate-sized shuffle): docs holding
    all terms collect a term→positions map, then the phrase count is a
    pure array fold — occurrences are start positions ``c`` of term 0
    with term *i* present at ``c+i`` for every following slot. Repeated
    terms in the phrase are fine (both slots read the same map entry).
    All arithmetic is integer, so the DuckDB oracle replays counts
    exactly. Output: ``(rank, id, n_phrase, dl)`` ordered by
    (n_phrase desc, id asc); docs without the full phrase are dropped.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if len(phrase_terms) < 2:
        raise ValueError("phrase_terms must have at least 2 terms")
    lowered = [t.lower() for t in phrase_terms]
    for t in lowered:
        if not t or any(c.isspace() for c in t):
            raise ValueError(
                f"phrase terms must be non-empty and whitespace-free, got {t!r}"
            )
    from pyspark.sql import Window

    stats = _index_stats(spark, path)
    if not stats["positions"]:
        raise ValueError(
            f"index at {path} was built without positions=True; "
            "phrase search needs the positional layout"
        )
    n_buckets, id_col = stats["n_buckets"], stats["id_col"]

    distinct_terms = sorted(set(lowered))
    buckets = _probe_buckets(spark, distinct_terms, n_buckets)
    # single consumer — no pin; the pruned scan stays in the final plan
    probed = _probed_postings(spark, path, distinct_terms, buckets)
    per_doc = (
        probed.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("term"), F.col("pos")))
            ).alias("__pm"),
            F.max("dl").alias("dl"),
            F.count(F.lit(1)).alias("__nt"),
        )
        .where(F.col("__nt") == len(distinct_terms))
    )
    def _adjacent(prev: Column, term: str, offset: int) -> Column:
        # single-arg lambda built by a closure factory: extra defaulted
        # lambda params would change the HOF arity and bind the INDEX
        # (the bm25_score tf-counter pitfall, verify SKILL.md r15)
        pos_i = F.element_at(F.col("__pm"), F.lit(term))
        return F.filter(prev, lambda c: F.array_contains(pos_i, c + F.lit(offset)))

    cand = F.element_at(F.col("__pm"), F.lit(lowered[0]))
    for i, term in enumerate(lowered[1:], start=1):
        cand = _adjacent(cand, term, i)
    scored = per_doc.select(
        F.col(id_col), F.size(cand).cast("int").alias("n_phrase"), F.col("dl")
    ).where(F.col("n_phrase") > 0)
    top = scored.orderBy(F.col("n_phrase").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("n_phrase").desc(), F.col(id_col).asc())
    return top.select(
        F.row_number().over(w).alias("rank"), id_col, "n_phrase", "dl"
    )
