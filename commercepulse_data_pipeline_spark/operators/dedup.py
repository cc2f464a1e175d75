"""Deduplication operators — the reference's signature capability (§2.5)
plus the near-dup family a 100 TB training-data pipeline needs.

Relational dedup (reference D1/D2/D3) is window-rank or dropDuplicates —
one shuffle on the key, partial aggregation map-side, no driver involvement.

Near-dup (MinHash-LSH, SimHash, n-gram Jaccard) follows the standard
shingle → signature → band → bucket-join shape: candidate generation is an
equi-join on band keys (shuffle on band hash — uniformly distributed by
construction), so the O(n²) pair space is never materialized. At 100 TB the
only hot spot is a degenerate bucket (e.g. the empty document); callers cap
bucket width with ``max_bucket`` salting-style guard.

Scale notes per operator are in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.expr import let
from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df
from commercepulse_data_pipeline_spark.functions.pins import pin
from commercepulse_data_pipeline_spark.operators.text import (
    token_ngrams,
    tokens as _tokens,
)
from commercepulse_data_pipeline_spark.sources.commit import BATCH_COL, CONSOLIDATED_BATCH


# ---------------------------------------------------------------------------
# Relational dedup (reference §2.5)
# ---------------------------------------------------------------------------

def last_writer_wins(
    df: DataFrame, key_cols: list[str], order_col: str, *, tiebreak_cols: list[str] | None = None
) -> DataFrame:
    """Latest row per key wins (reference D1, src/transformer.py:40:
    ``sort_values(order_col, na_position='first').drop_duplicates(key,
    keep='last')`` — NaT sorts first, so any real timestamp beats NULL).

    Spark shape: rank-1 window. One shuffle on the key; at scale prefer the
    key also being the table's bucketing column so the shuffle is free.
    ``tiebreak_cols`` make the winner deterministic when order_col ties.
    """
    ordering = [F.col(order_col).desc_nulls_last()]
    for c in tiebreak_cols or []:
        ordering.append(F.col(c).desc_nulls_last())
    w = Window.partitionBy(*key_cols).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_first(
    df: DataFrame, key_cols: list[str], order_col: str | None = None,
    *, tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Keep one row per key (reference D2, src/transformer.py:88,126
    ``drop_duplicates(subset=key)``).

    Without ``order_col`` this is ``dropDuplicates`` ("some row wins", same
    contract as pandas' arbitrary-but-first). With ``order_col`` it is the
    deterministic variant — earliest by order_col (+ tiebreaks) wins —
    which is what our oracle-checked queries use.
    """
    if order_col is None:
        return df.dropDuplicates(key_cols)
    ordering = [F.col(order_col).asc_nulls_last()]
    for c in tiebreak_cols or []:
        ordering.append(F.col(c).asc_nulls_last())
    w = Window.partitionBy(*key_cols).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def idempotent_append(df: DataFrame, id_col: str = "event_id") -> DataFrame:
    """Storage-level idempotency (reference D3/K1: Mongo upsert on unique
    event_id index). Batch shape: dedup on the deterministic id before
    append. Streaming shape: ``streaming.ingest.dedup_within_watermark``."""
    return df.dropDuplicates([id_col])


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-content dedup via hash-groupBy: keep the lowest id per distinct
    content hash. Shuffles on md5(text) — uniform by construction, no skew.
    At 100 TB: hash first (map-side), never shuffle the raw text twice."""
    fp = F.md5(F.col(text_col)).alias("content_hash")
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (
        df.select(fp, "*")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "content_hash")
    )


def duplicate_clusters(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate clusters: (content_hash, canonical_id, dup_count).
    One groupBy shuffle on the content hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: one row per doc id with
    status ``added`` (only in new) / ``removed`` (only in old) /
    ``changed`` (both, different content) / ``unchanged``. The audit
    primitive for corpus drops: what actually moved between v1 and v2.

    Scale shape: each side reduces to (id, content md5) map-side — the
    raw text never shuffles — then ONE full-outer sort-merge join on id.
    The reference has no versioning surface at all (it truncates and
    reloads, src/transformer.py:230).

    Presence is carried by explicit markers, NOT by hash nullity: a doc
    that exists in a snapshot with NULL content still counts as present
    (added/removed go by id-presence, matching the oracle's
    ``a.doc_id IS NULL`` test), and NULL-content rows compare null-safely
    for changed/unchanged (NULL vs NULL → unchanged, NULL vs text →
    changed)."""
    o = old.select(
        F.col(id_col),
        F.md5(F.col(content_col)).alias("__h_old"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col),
        F.md5(F.col(content_col)).alias("__h_new"),
        F.lit(True).alias("__in_new"),
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~F.col("__h_old").eqNullSafe(F.col("__h_new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, on=id_col, how="full_outer")
        .select(F.col(id_col), status.alias("status"))
    )


# ---------------------------------------------------------------------------
# Shingling (shared by the near-dup family)
# ---------------------------------------------------------------------------

def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column, as array<string>.

    Pure Catalyst — the guarded n-gram builder is ``operators/text.py::
    token_ngrams`` (ONE implementation of the count-guard/sequence/slice
    loop repo-wide), which let-binds the token array
    (``functions/expr.py::let``) so the per-offset lambda references a
    variable: an inline ``toks`` subtree would be re-tokenized once per
    shingle offset, turning shingling O(tokens²) per document — measured
    ~19× slower at 1000-token docs and growing with length. The binding
    also survives optimizer re-inlining (pushed-down inferred filters),
    which staging in a projection does not.
    """
    return F.array_distinct(token_ngrams(_tokens(text), n))


def eligible_buckets(keyed: DataFrame, keys: list[str], *, max_bucket: int) -> DataFrame:
    """Bucket keys whose member count is in [2, max_bucket] — computed from
    a plain COUNT aggregation, so deciding a bucket's fate never
    materializes its id array. Singletons can't produce pairs; over-cap
    buckets are degenerate (empty docs, boilerplate, zero vectors) and are
    dropped wholesale."""
    return (
        keyed.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bucket_n"))
        .where((F.col("__bucket_n") >= 2) & (F.col("__bucket_n") <= max_bucket))
        .select(*keys)
    )


def capped_posting_lists(
    keyed: DataFrame, keys: list[str], item: Column, *, max_bucket: int
) -> DataFrame:
    """Posting lists per bucket key with the cap enforced BEFORE collect
    (VERDICT r2 #3): a window ``count(*) over (partition by keys)`` tags
    every row with its bucket size, rows of singleton or over-cap buckets
    are filtered out, and only then does ``collect_list`` run. The collect
    buffer is therefore bounded by ``max_bucket`` BY CONSTRUCTION — a
    pathological bucket (10⁸ members at 100 TB) never reaches the
    aggregation, where the single-pass ``collect_list → size() filter``
    shape would OOM first.

    Why a window and not count-agg + semi-join: the join form computes the
    (expensive — md5 banding / shingle explode) upstream TWICE, once per
    join side, and adds a join shuffle — measured 1.5-2× slower end to end.
    The window computes upstream ONCE with ONE exchange; WindowExec's
    per-group buffer is an ExternalAppendOnlyUnsafeRowArray that SPILLS to
    disk past a threshold, so even the degenerate bucket only costs disk,
    never an OOM. The final groupBy is on the window's own partition keys,
    so it reuses that hash partitioning — no second exchange (plan-asserted
    in tests/test_operators.py).
    """
    w = Window.partitionBy(*keys)
    return (
        keyed.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .where((F.col("__bucket_n") >= 2) & (F.col("__bucket_n") <= max_bucket))
        .groupBy(*keys)
        .agg(F.collect_list(item).alias("__ids"))
    )


def bucket_occupancy_report(
    keyed: DataFrame, keys: list[str], *, max_bucket: int
) -> DataFrame:
    """Occupancy bands of a bucket-keyed table under the
    ``capped_posting_lists`` cap — the observability complement to the
    cap's SILENT drop (r15; the r14 scale probe measured total pair loss
    when a degenerate signature family blew past ``max_bucket`` and its
    bucket vanished without a trace). One COUNT aggregation per bucket
    key, then a constant-arity band rollup — kilobytes out at any scale,
    mirroring ``skew.skew_report`` for join keys.

    Returns one row per occupied band:
    ``(status ∈ {'singleton','pairable','dropped'}, n_buckets, n_items,
    max_bucket_n)`` — ``dropped`` is the band the pair stage never sees;
    a non-zero ``dropped`` row on a media corpus usually means a
    solid-color / silence family (see :func:`drop_degenerate_sigs`)."""
    return (
        keyed.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bucket_n"))
        .select(
            F.when(F.col("__bucket_n") < 2, F.lit("singleton"))
            .when(F.col("__bucket_n") <= max_bucket, F.lit("pairable"))
            .otherwise(F.lit("dropped"))
            .alias("status"),
            F.col("__bucket_n"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("__bucket_n").cast("long").alias("n_items"),
            F.max("__bucket_n").cast("long").alias("max_bucket_n"),
        )
    )


def sig_block_occupancy(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    hamming_threshold: int = 3,
    blocks: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Block-bucket occupancy for a 64-bit signature table under EXACTLY
    the keys :func:`sig_hamming_pairs` joins on (same pigeonhole blocks,
    same cap) — run it alongside a pair job to see what the cap dropped
    instead of reading "no dups found" (r15 guard). Output shape is
    :func:`bucket_occupancy_report`'s three-band rollup."""
    if blocks is None:
        blocks = min(64, hamming_threshold + 1)
    sh = sigs.select(F.col(id_col), F.col(sig_col).alias("sig"))
    width = max(1, 64 // blocks)
    return bucket_occupancy_report(
        _sig_blocks(sh, id_col, blocks, width),
        ["block_id", "block_val"],
        max_bucket=max_bucket,
    )


def drop_degenerate_sigs(
    sigs: DataFrame, *, sig_col: str = "sig"
) -> DataFrame:
    """Remove DEGENERATE 64-bit signatures — all bits zero or all bits
    one — before block-LSH pairing (r15). These are the media tier's
    stop-shingles: every solid-color thumbnail hashes to the same
    constant aHash, every silent clip to the same energy hash, so the
    family forms one giant bucket that (a) would emit O(n²) junk pairs
    below the cap and (b) silently LOSES all its pairs above it (the r14
    media scale probe hit exactly this). Dropping the two constant
    signatures mirrors the text tier's boilerplate caps: a pair between
    two featureless items carries no near-dup evidence worth keeping.
    NULL signatures (undecodable payloads) are dropped too. Opt-in at
    the operator level; the media-dedup CLI applies it by default with
    ``--keep-degenerate`` to opt out."""
    c = F.col(sig_col)
    return sigs.where(c.isNotNull() & (c != F.lit(0)) & (c != F.lit(-1)))


def _pairs_in_group(ids: Column) -> Column:
    """All ordered pairs (id_a < id_b) from an array of ids, as
    array<struct<id_a,id_b>> — pure Catalyst (nested transform over the
    sorted array), generated inside the aggregation stage with no join."""
    # Memory note: the pair array materializes len²/2 structs PER BUCKET
    # ROW before the downstream explode — callers must cap bucket width
    # (max_bucket / max_shingle_freq ≈ 1000 → ≤ ~500k pairs ≈ a few MB).
    # Wider buckets are near-useless for similarity anyway (stop-shingles,
    # boilerplate); drop or salt them instead of generating their pairs.
    # The sorted array is let-bound: referenced inline from the outer
    # lambda, array_sort(ids) would re-sort the bucket once per MEMBER
    # (O(n² log n) per bucket).
    return let(
        F.array_sort(ids),
        lambda s: F.flatten(
            F.transform(
                s,
                lambda x, i: F.transform(
                    F.slice(s, i + 2, F.size(s)),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        ),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def minhash_signature(text: Column, num_hashes: int = 8, shingle_n: int = 3) -> Column:
    """MinHash signature as array<string> of length ``num_hashes``.

    Hash family: md5(seed || ':' || shingle), min taken LEXICOGRAPHICALLY
    over the hex digests. Lexicographic min of a uniform hash is a valid
    min-hash and — deliberately — is reproducible in any engine with md5
    (our DuckDB oracle computes the identical signature).
    """
    def body(shingles: Column) -> Column:
        def min_for_seed(i: int) -> Column:
            return F.array_min(
                F.transform(shingles, lambda s: F.md5(F.concat_ws(":", F.lit(str(i)), s)))
            )
        return F.array(*[min_for_seed(i) for i in range(num_hashes)])

    # let-bound: each of the k transform() arguments would otherwise
    # re-evaluate the shingle construction (k evals per row)
    return let(word_shingles(text, shingle_n), body)


def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{k-1}) — MinHash signature via explode + groupBy-min.

    This is the scale shape: one md5 per (shingle, seed) computed exactly
    once, partial min aggregation map-side, a single shuffle on the doc
    id. The pure-expression ``minhash_signature`` (array column) inlines a
    huge expression tree that Catalyst may duplicate per consumer —
    measured 5-50× slower in multi-band plans; prefer this table form for
    anything beyond a single projection.

    Docs with zero shingles (< shingle_n tokens) produce no rows — same
    contract as the DuckDB oracle's unnest.
    """
    # explode_OUTER + null-filter: a plain explode's inferred non-empty
    # filter (InferFiltersFromGenerate) evaluates the shingle construction
    # a second time per row (see functions/expr.py); shingle elements are
    # never NULL, so dropping the outer-generate's null row is exact.
    sh = df.select(
        F.col(id_col),
        F.explode_outer(word_shingles(F.col(text_col), shingle_n)).alias("__shingle"),
    ).where(F.col("__shingle").isNotNull())
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(str(i)), F.col("__shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_id, band_key) — one row per document per LSH band.

    band_key = concat of the band's signature slice; docs sharing any
    band_key are candidate near-duplicates. Rows-per-doc = ``bands`` —
    linear blowup, then a single shuffle on band_key for candidates.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature_table(
        df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    bands_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("band_key"),
        )
        for b in range(bands)
    ])
    # explode_outer: bands_arr is a fixed-length literal array (never
    # empty), but plain explode would still evaluate it once more in the
    # inferred non-empty filter
    return sig.select(F.col(id_col), F.explode_outer(bands_arr).alias("band")).select(
        id_col, "band.band_id", "band.band_key"
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) via LSH banding.

    ``bands_df``: a precomputed ``minhash_bands`` table for ``df`` — pass
    it (persisted) when the caller also needs the bands elsewhere, so the
    md5 signature build isn't re-run per consumer.

    Scale shape: POSTING LIST, not self-join — group the band table by
    (band_id, band_key) into an id list (one uniform hash-key shuffle),
    prune singleton buckets (the overwhelming majority — they can't
    produce pairs), and generate pairs inside the bucket array with a
    Catalyst nested transform. The self-join alternative shuffles the band
    table twice and sorts it; this shuffles it once.

    ``max_bucket`` drops degenerate buckets (boilerplate/empty docs) that
    would otherwise emit O(bucket²) pairs — a recall/robustness trade the
    caller opts into, mirroring production LSH systems. The cap is
    enforced cap-before-collect (window count filter — see
    ``capped_posting_lists``) so no executor ever materializes an
    over-cap bucket's id array.
    """
    b = (
        bands_df
        if bands_df is not None
        else minhash_bands(
            df, text_col, id_col, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
        )
    )
    buckets = capped_posting_lists(
        b, ["band_id", "band_key"], F.col(id_col), max_bucket=max_bucket
    )
    # explode_outer: the inferred non-empty filter of a plain explode
    # would generate the O(bucket²) pair array TWICE per bucket row
    return (
        buckets.select(F.explode_outer(_pairs_in_group(F.col("__ids"))).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_star_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """STAR edges per LSH bucket — the connected-components input for the
    CLUSTER-TABLE path (r16 optimization pass, VERDICT r15 item 1):
    instead of exploding every band bucket into its |bucket|²/2 candidate
    pairs (:func:`minhash_candidate_pairs`) and handing CC a quadratic
    edge list, emit |bucket|-1 edges member→bucket-min per bucket. A star
    over a bucket's members has exactly the same connected components as
    the bucket's clique — every member reaches every other through the
    bucket minimum — and the union over buckets therefore has the same
    components as the union of cliques, so ``dedup_clusters`` over these
    edges is ROW-IDENTICAL to ``dedup_clusters`` over the pair list
    (property-tested; the oracle's recursive hull confirms it at parity).

    At 100 TB this is the difference between CC input LINEAR in bucket
    occupancy and quadratic in it (guide §2.3 — shuffle fewer bytes): a
    1000-member bucket feeds CC 999 edge rows instead of ~500k, and no
    O(k²) pair array ever materializes (no collect_list either — the
    bucket minimum is a window aggregate, so even the capped posting-list
    buffer disappears). The price is graph diameter: a chain of buckets
    overlapping only in non-min members doubles the hop count vs cliques,
    costing hash-to-min at most one extra round on chain-y graphs
    (near-dup banding graphs are clique-ish; measured round count at
    bench SF is unchanged).

    Pair-stage CONSUMERS (confirm joins, threshold sweeps, source
    matrices) still need real pairs — keep feeding them
    ``minhash_candidate_pairs``; this is only for consumers of the
    cluster table. Cap semantics match the pair path exactly: buckets
    with fewer than 2 or more than ``max_bucket`` members emit nothing.

    Output: distinct (id_a, id_b) with id_a = the bucket minimum (so
    id_a < id_b), ready for ``dedup_clusters``/``connected_components``.
    """
    b = (
        bands_df
        if bands_df is not None
        else minhash_bands(
            df, text_col, id_col, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
        )
    )
    w = Window.partitionBy("band_id", "band_key")
    return (
        b.select(
            F.col(id_col),
            F.count(F.lit(1)).over(w).alias("__bucket_n"),
            F.min(id_col).over(w).alias("__mn"),
        )
        .where(
            (F.col("__bucket_n") >= 2)
            & (F.col("__bucket_n") <= max_bucket)
            & (F.col(id_col) != F.col("__mn"))
        )
        .select(F.col("__mn").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact similarity on shingle sets)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 10000,
) -> DataFrame:
    """Exact Jaccard-similar pairs (id_a < id_b, jaccard >= threshold).

    Distributed shape (no O(n²)): explode shingles → POSTING LIST per
    shingle (groupBy + collect_list, one uniform shuffle) → singleton
    shingles pruned (they can't contribute to any pair — typically the
    vast majority of the corpus vocabulary) → per-pair shared-shingle
    count → |A∩B| / (|A|+|B|-|A∩B|). ``max_shingle_freq`` removes
    stop-shingles that appear in too many docs (each would emit freq²/2
    pair rows); enforced cap-before-collect (``capped_posting_lists``) so a
    stop-shingle's full id list is never buffered.
    """
    # explode_outer + null-filter: avoids the inferred filter's second
    # evaluation of the shingle construction (functions/expr.py)
    sh = (
        df.select(
            F.col(id_col),
            F.explode_outer(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
        ).where(F.col("shingle").isNotNull())
    )
    # set size = array length of the (already-distinct) shingle array: a
    # pure per-doc projection. Deriving it from the exploded rows instead
    # (groupBy + count) would re-run the shingle explode a second time —
    # sh has two consumers and Spark does not share subplans across them.
    # (A window count(id) over sh computes it in ONE pass but shuffles
    # the whole exploded table a second time — measured ≈equal at sf0.1
    # (1.59s vs 1.69s, within noise); at 100 TB the extra exchange of the
    # exploded rows costs more than the extra map-only scan, so the
    # two-scan form stays.)
    sizes = df.select(
        F.col(id_col), F.size(word_shingles(F.col(text_col), shingle_n)).alias("set_size")
    ).where(F.col("set_size") > 0)
    posting = capped_posting_lists(
        sh, ["shingle"], F.col(id_col), max_bucket=max_shingle_freq
    )
    shared = (
        posting.select(F.explode_outer(_pairs_in_group(F.col("__ids"))).alias("p"))
        .where(F.col("p").isNotNull())
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        shared.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 10000,
) -> DataFrame:
    """DIRECTED containment-similar pairs: ``containment(src→dst) =
    |src ∩ dst| / |src| >= threshold`` over distinct n-word shingles
    (Broder's containment measure). The asymmetric complement of
    :func:`ngram_jaccard_pairs`: a short document quoted wholesale inside
    a much longer one has low Jaccard (the union is dominated by the long
    doc) but containment ≈ 1 in the short→long direction — the shape
    quote-dedup and boilerplate-extraction filters need.

    Same distributed shape as the Jaccard path (posting lists per
    shingle, cap-before-collect, never O(n²)); the undirected
    shared-shingle counts are computed ONCE and both directions are
    emitted by a union — no second pass. Output: (id_src, id_dst,
    containment) with containment rounded to 6 dp.
    """
    sh = (
        df.select(
            F.col(id_col),
            F.explode_outer(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
        ).where(F.col("shingle").isNotNull())
    )
    sizes = df.select(
        F.col(id_col), F.size(word_shingles(F.col(text_col), shingle_n)).alias("set_size")
    ).where(F.col("set_size") > 0)
    posting = capped_posting_lists(
        sh, ["shingle"], F.col(id_col), max_bucket=max_shingle_freq
    )
    shared = (
        posting.select(F.explode_outer(_pairs_in_group(F.col("__ids"))).alias("p"))
        .where(F.col("p").isNotNull())
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    directed = shared.select(
        F.col("id_a").alias("id_src"), F.col("id_b").alias("id_dst"), "shared"
    ).unionAll(
        shared.select(
            F.col("id_b").alias("id_src"), F.col("id_a").alias("id_dst"), "shared"
        )
    )
    ssz = sizes.select(F.col(id_col).alias("id_src"), F.col("set_size").alias("size_src"))
    return (
        directed.join(ssz, "id_src")
        .withColumn("containment", F.col("shared") / F.col("size_src"))
        .where(F.col("containment") >= threshold)
        .select("id_src", "id_dst", F.round("containment", 6).alias("containment"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _md5_long(s: Column) -> Column:
    """First 64 bits of md5(s) as a signed long (big-endian over the first
    16 hex chars, two's complement). Chosen over xxhash64 so the hash
    family is ENGINE-REPRODUCIBLE — the DuckDB oracle derives the
    identical value from the same hex digits (VERDICT r1 #5)."""
    h = F.md5(s)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def _simhash_from_hashes(hashes: Column, n: Column, bits: int = 64) -> Column:
    """SimHash from an ALREADY-MATERIALIZED array of 64-bit hashes.

    Per-bit majority vote: bit_i(sig) = 1 iff more hashes have bit_i set
    than not. ``hashes``/``n`` must be plain column references (staged in
    their own projection) — inlining the hash computation here would make
    Catalyst re-expand it per bit (64× recompute; measured ~15× slower).
    """
    def bit_sum(i: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int"),
        )
    bit_cols = [
        F.when(bit_sum(i) * 2 > n, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) * F.lit(2**i).cast("long")
        if i < 63
        else F.when(bit_sum(i) * 2 > n, F.lit(-(2**63)).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return F.when(n > 0, total)


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 64,
    shingle_n: int = 2,
) -> DataFrame:
    """(id, sig) — SimHash per document in TABLE form: explode shingle
    hashes → one groupBy(id) with 64 conditional sums (one per bit) →
    majority-vote signature from the sums.

    Why this shape: the whole aggregation runs in whole-stage-codegen'd
    HashAggregate with map-side partial aggregation (one uniform shuffle
    on the doc id). The array-column alternative (64 higher-order
    ``aggregate`` passes) is interpreted expression evaluation — measured
    ~5× slower even with the hash array staged. Same trade as
    ``minhash_signature_table``.

    Lane packing: bit counts i and i+bits/2 share one 64-bit sum (two
    32-bit lanes — ``(h>>i & 1) + (h>>(i+bits/2) & 1) << 32``), halving
    the aggregation buffer to bits/2 longs + count. Carry-safe: a lane
    overflows only past 2³² shingles in ONE document, orders of magnitude
    beyond any real doc. Measured ~10-15% faster than 64 separate sums at
    sf0.1 and half the per-group state at 100 TB. The unpacked counts
    (and hence the signature) are bit-identical — oracle parity
    unaffected. ``bits`` must be even and ≤ 64 (signatures live in one
    long; bit 63 maps to the long's sign bit).
    """
    if bits % 2 != 0 or not 2 <= bits <= 64:
        raise ValueError(f"bits must be even and in [2, 64], got {bits}")
    half = bits // 2
    # explode_outer + null-filter: see minhash_signature_table
    hashed = (
        df.select(
            F.col(id_col),
            F.explode_outer(word_shingles(F.col(text_col), shingle_n)).alias("__s"),
        )
        .where(F.col("__s").isNotNull())
        .select(id_col, _md5_long(F.col("__s")).alias("__h"))
    )

    def lane(j: int) -> Column:
        lo = F.shiftright("__h", j).bitwiseAND(F.lit(1)).cast("long")
        hi = F.shiftright("__h", j + half).bitwiseAND(F.lit(1)).cast("long")
        return lo + hi * F.lit(1 << 32)

    aggs = [F.sum(lane(j)).alias(f"p{j}") for j in range(half)] + [
        F.count(F.lit(1)).alias("__n")
    ]
    counts = hashed.groupBy(id_col).agg(*aggs)
    n = F.col("__n")

    def bit_count(i: int) -> Column:
        # unpack count of set bit i from its packed lane sum
        if i < half:
            return F.col(f"p{i}").bitwiseAND(F.lit((1 << 32) - 1))
        return F.shiftright(F.col(f"p{i - half}"), 32)

    bit_cols = [
        F.when(bit_count(i) * 2 > n, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) * F.lit(2**i).cast("long")
        if i < 63
        else F.when(bit_count(i) * 2 > n, F.lit(-(2**63)).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    # docs with zero shingles produce no rows (same contract as minhash)
    return counts.select(F.col(id_col), total.alias("sig"))


def simhash(text: Column, bits: int = 64, shingle_n: int = 2) -> Column:
    """SimHash as a single column expression. Prefer ``simhash_table``
    in real plans — as one inline expression Catalyst re-expands the
    shingle/hash subtrees per bit (see _simhash_from_hashes)."""
    shingles = word_shingles(text, shingle_n)
    hashes = F.transform(shingles, lambda s: _md5_long(s))
    return _simhash_from_hashes(hashes, F.size(shingles), bits)


def _sig_blocks(
    sigs: DataFrame, id_col: str, blocks: int, width: int
) -> DataFrame:
    """Explode a (id, sig) table into pigeonhole block keys: one row per
    (id, block_id, block_val), sig carried along for the exact-verify
    step. Shared by the self-pair and incremental simhash forms."""
    blocks_arr = F.array(*[
        F.struct(
            F.lit(i).alias("block_id"),
            F.shiftrightunsigned(F.col("sig"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("block_val"),
        )
        for i in range(blocks)
    ])
    return sigs.select(
        id_col, "sig", F.explode_outer(blocks_arr).alias("b")
    ).select(id_col, "sig", "b.block_id", "b.block_val")


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    hamming_threshold: int = 3,
    blocks: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, via block-LSH.

    Pigeonhole: if hamming(a,b) <= threshold < blocks, at least one of the
    ``blocks`` equal-width bit blocks matches exactly → join candidates on
    (block_id, block_value), verify true Hamming distance with
    bit_count(xor). Shuffle key is a hash block — uniform. ``blocks``
    defaults to ``hamming_threshold + 1`` (the minimum that preserves the
    recall guarantee); bits beyond blocks*width are uncovered, which only
    ADDS candidates (never loses the guarantee).

    ``max_bucket`` drops degenerate block buckets cap-before-collect
    (window count filter, ``capped_posting_lists``) — note a dropped bucket weakens the
    pigeonhole guarantee for its members (they have ``blocks - 1`` other
    chances); raise the cap when exact recall matters more than the
    degenerate-bucket O(n²)."""
    sh = simhash_table(df, text_col, id_col).where(F.col("sig").isNotNull())
    return sig_hamming_pairs(
        sh, id_col=id_col,
        hamming_threshold=hamming_threshold, blocks=blocks,
        max_bucket=max_bucket,
    )


def sig_hamming_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    hamming_threshold: int = 3,
    blocks: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """All pairs of a 64-bit signature table within a Hamming radius, via
    pigeonhole block-LSH — the signature-agnostic core of
    :func:`simhash_pairs` (r13): the same machinery now serves text
    SimHash signatures AND image perceptual hashes
    (``multimodal.image_ahash``) — hash once per item, block-join, verify
    exactly with ``bit_count(xor)``. ``sigs`` is (id, sig) rows with
    non-NULL sigs; returns distinct (id_a < id_b, hamming <= threshold).
    Scale/guarantee notes as on :func:`simhash_pairs`."""
    if blocks is None:
        blocks = min(64, hamming_threshold + 1)
    sh = sigs.select(F.col(id_col), F.col(sig_col).alias("sig"))
    width = max(1, 64 // blocks)
    exploded = _sig_blocks(sh, id_col, blocks, width)
    # Posting-list candidate generation (same shape as minhash_candidate_pairs):
    # one shuffle on the block key, singleton buckets pruned, pairs built
    # in-array. Each item carries its signature for the exact-verify step.
    buckets = capped_posting_lists(
        exploded,
        ["block_id", "block_val"],
        F.struct(F.col(id_col), F.col("sig")),
        max_bucket=max_bucket,
    )
    cand = (
        buckets.select(F.explode_outer(_pairs_in_group(F.col("__ids"))).alias("p"))
        .where(F.col("p").isNotNull())
        .select(
            F.col(f"p.id_a.{id_col}").alias("id_a"),
            F.col("p.id_a.sig").alias("sig_a"),
            F.col(f"p.id_b.{id_col}").alias("id_b"),
            F.col("p.id_b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= hamming_threshold)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_between(
    new_df: DataFrame,
    index_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    hamming_threshold: int = 3,
    blocks: int | None = None,
    max_bucket: int = 1000,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs between a NEW batch and an existing
    signature table — the simhash sibling of :func:`minhash_pairs_between`
    (r11): per-ingest work is O(new batch) + one pruned scan of the
    index, instead of re-signing the whole corpus per arrival. The index
    side is just (id, sig) rows — 8 bytes per doc, the cheapest near-dup
    index there is.

    Scale shape mirrors the minhash form: the new batch's block keys
    BROADCAST as a semi-join filter, so the only index rows that shuffle
    are those whose pigeonhole block the batch actually probes; probed
    keys are width-capped (``max_bucket``) before the pair join; the
    exact Hamming verify runs on the joined (sig, sig) pair — pigeonhole
    (threshold < blocks) keeps the output exactly "all cross pairs with
    hamming <= threshold", engine-independent given the signatures.

    ``new_sigs``: pass a precomputed ``simhash_table`` for the batch when
    the caller reuses it (consumed twice here: probe keys + pair join).
    Returns distinct (id_a < id_b, hamming); ids shared between batch
    and index (re-ingest) never pair with themselves."""
    if new_sigs is None:
        new_sigs = simhash_table(new_df, text_col, id_col).where(
            F.col("sig").isNotNull()
        )
    return sig_hamming_pairs_between(
        new_sigs, index_sigs, id_col=id_col,
        hamming_threshold=hamming_threshold, blocks=blocks,
        max_bucket=max_bucket,
    )


def sig_hamming_pairs_between(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    hamming_threshold: int = 3,
    blocks: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Cross pairs within a Hamming radius between a NEW signature batch
    and an index signature table — the signature-agnostic core of
    :func:`simhash_pairs_between` (r13 refactor, the incremental sibling
    of :func:`sig_hamming_pairs`): with ``multimodal.image_ahash``
    output on both sides this is incremental IMAGE near-dup ingest —
    hash the arriving batch, probe the persisted (id, ahash) table
    (8 bytes/image, the cheapest image-dedup index there is), O(batch)
    per ingest. Scale/guarantee notes as on :func:`simhash_pairs_between`."""
    if blocks is None:
        blocks = min(64, hamming_threshold + 1)
    width = max(1, 64 // blocks)
    new_sigs = new_sigs.select(F.col(id_col), F.col(sig_col).alias("sig"))
    index_sigs = index_sigs.select(F.col(id_col), F.col(sig_col).alias("sig"))
    nb = _sig_blocks(
        new_sigs.select(F.col(id_col).alias("__new_id"), "sig"), "__new_id",
        blocks, width,
    ).withColumnRenamed("sig", "__sig_new")
    ib = _sig_blocks(
        index_sigs.select(F.col(id_col).alias("__old_id"), "sig"), "__old_id",
        blocks, width,
    ).withColumnRenamed("sig", "__sig_old")
    probe_keys = F.broadcast(nb.select("block_id", "block_val").distinct())
    matched = ib.join(probe_keys, ["block_id", "block_val"], "left_semi")
    w = Window.partitionBy("block_id", "block_val")
    matched = (
        matched.withColumn("__key_n", F.count(F.lit(1)).over(w))
        .where(F.col("__key_n") <= max_bucket)
        .drop("__key_n")
    )
    hamming = F.bit_count(F.col("__sig_old").bitwiseXOR(F.col("__sig_new")))
    return (
        matched.join(F.broadcast(nb), ["block_id", "block_val"])
        .where(F.col("__old_id") != F.col("__new_id"))
        .select(
            F.least("__old_id", "__new_id").alias("id_a"),
            F.greatest("__old_id", "__new_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= hamming_threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental MinHash index (dedup new arrivals against a persisted corpus)
# ---------------------------------------------------------------------------

def minhash_pairs_between(
    new_df: DataFrame,
    index_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs between a NEW batch and an existing band
    table (the read side of the incremental index): per-ingest work is
    O(new batch) + one scan of the index, instead of re-banding the whole
    corpus per arrival.

    ``new_bands``: a precomputed (persisted) ``minhash_bands`` table for
    the batch — pass it when the caller reuses the bands, so the md5
    signature build runs once (the table is consumed twice here: probe
    keys and the pair join).

    Scale shape: the new batch's bands BROADCAST (an ingest batch is
    small by definition); the index side is first restricted by a
    broadcast left-semi on the new batch's band keys — so the only rows
    that ever shuffle are index rows whose key the new batch actually
    probes — then width-capped per key (``max_bucket``, window count —
    degenerate boilerplate keys in the index would otherwise fan each
    probing new doc into the whole bucket) before the pair join.

    Returns distinct (id_a < id_b) pairs; ids shared between batch and
    index (re-ingest) never pair with themselves.
    """
    if new_bands is None:
        new_bands = minhash_bands(
            new_df, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        )
    probe_keys = F.broadcast(new_bands.select("band_id", "band_key").distinct())
    matched = index_bands.join(probe_keys, ["band_id", "band_key"], "left_semi")
    w = Window.partitionBy("band_id", "band_key")
    matched = (
        matched.withColumn("__key_n", F.count(F.lit(1)).over(w))
        .where(F.col("__key_n") <= max_bucket)
        .drop("__key_n")
    )
    pairs = (
        matched.withColumnRenamed(id_col, "__old_id")
        .join(
            F.broadcast(new_bands.withColumnRenamed(id_col, "__new_id")),
            ["band_id", "band_key"],
        )
        .where(F.col("__old_id") != F.col("__new_id"))
        .select(
            F.least("__old_id", "__new_id").alias("id_a"),
            F.greatest("__old_id", "__new_id").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def write_minhash_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's LSH band table as its near-dup INDEX
    (mirroring ``similarity.write_ivf_index`` / ``write_lsh_index``):
    (id, band_id, band_key) parquet plus a sidecar meta file pinning the
    banding parameters, so the read side always re-bands new docs with
    the SAME hash family. ``mode="append"`` is the incremental-ingest
    path — after deduping a batch, append its bands so the next batch
    dedups against it too."""
    import json

    meta = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "id_col": id_col,
        "text_col": text_col,
    }
    spark = df.sparkSession
    existing = None
    if mode == "append":
        # the sidecar PINS the hash family; appending rows banded with
        # different parameters would make legacy band_keys unmatchable.
        # The check MUST run BEFORE the band write — if the rows landed
        # first, a raised ValueError would leave foreign-hash-family rows
        # already persisted and the index silently corrupted (ADVICE r5).
        try:
            existing = read_minhash_index_meta(spark, path)
        except Exception as exc:  # noqa: BLE001 — filtered just below
            from commercepulse_data_pipeline_spark.sources.readers import (
                is_missing_store_error,
            )

            if not is_missing_store_error(exc, f"{path}/meta"):
                # a transient meta-read failure must not be mistaken for
                # "new index": appending rows banded under an unverified
                # hash family is the corruption this check exists to stop
                raise
            existing = None  # no meta yet: first write to this path
        if existing is not None:
            if {k: str(v) for k, v in existing.items()} != {
                k: str(v) for k, v in meta.items()
            }:
                raise ValueError(
                    f"append with params {meta} != index meta {existing}; "
                    "re-banding the whole index is the only safe migration"
                )
    bands_df = minhash_bands(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
    )
    _append_bands(spark, bands_df, path, mode)
    if existing is not None:
        return  # meta already pinned and verified equal — leave it
    one_slice_df(
        spark, [(json.dumps(sorted(meta.items())),)], "meta string"
    ).write.mode("overwrite").json(f"{path}/meta")


def _append_bands(spark, bands_df: DataFrame, path: str, mode: str) -> None:
    """Write band rows honoring the index's on-disk layout. A stream-built
    index (streaming/corpus.py) is hive-partitioned bands/ingest_batch=N;
    flat part files appended at the bands/ root of such an index are
    SILENTLY INVISIBLE to later partition-discovery reads (verified: Spark
    keeps only the partition-dir files) — so appends must land under a
    partition value there. -1 never collides with stream batch ids (>=0).
    Flat indexes (write_minhash_index from batch) keep flat appends."""
    partitioned = False
    if mode == "append":
        try:
            partitioned = BATCH_COL in spark.read.parquet(f"{path}/bands").columns
        except Exception as exc:  # noqa: BLE001 — filtered just below
            from commercepulse_data_pipeline_spark.sources.readers import (
                is_missing_store_error,
            )

            if not is_missing_store_error(exc, f"{path}/bands"):
                # guessing "flat layout" on a transient error would land
                # appends invisible to a partitioned index's reads
                raise
            partitioned = False  # no bands yet: layout set by this write
    if partitioned:
        (
            bands_df.withColumn(BATCH_COL, F.lit(CONSOLIDATED_BATCH))
            .write.mode("append")
            .partitionBy(BATCH_COL)
            .parquet(f"{path}/bands")
        )
    else:
        bands_df.write.mode(mode).parquet(f"{path}/bands")


def read_minhash_index_meta(spark, path: str) -> dict:
    import json

    row = spark.read.schema("meta string").json(f"{path}/meta").head()
    return dict(json.loads(row.meta))


def minhash_pairs_incremental(
    new_df: DataFrame,
    spark,
    index_path: str,
    *,
    max_bucket: int = 1000,
    update_index: bool = False,
) -> DataFrame:
    """New-batch near-dup candidates against a persisted index
    (``write_minhash_index``), banding the batch with the index's OWN
    pinned parameters. With ``update_index=True`` the pair result is
    MATERIALIZED (eager localCheckpoint) before the batch's bands are
    appended — the returned DataFrame is otherwise lazy, and an append
    preceding its evaluation would re-list the index directory with the
    new files already in it (harmlessly duplicated pairs at best,
    filesystem-listing races at worst).

    New-vs-new pairs within the batch come from the ordinary
    ``minhash_candidate_pairs`` and are unioned in, so the result is
    complete for "is anything in this batch a near-dup of anything seen
    so far, including itself"."""
    meta = read_minhash_index_meta(spark, index_path)
    params = dict(
        num_hashes=int(meta["num_hashes"]),
        bands=int(meta["bands"]),
        shingle_n=int(meta["shingle_n"]),
    )
    id_col, text_col = meta["id_col"], meta["text_col"]
    # fold-aware on stream-built (ingest_batch-partitioned) indexes; a
    # flat batch index takes the plain-read fast path
    from commercepulse_data_pipeline_spark.sources.readers import (
        fold_consistent_read,
    )

    idx = fold_consistent_read(spark, f"{index_path}/bands")
    # band the batch ONCE (eager checkpoint): the table is consumed up to
    # four times (probe keys, pair join, within-batch pairs, the append)
    # and each lazy evaluation would re-run the md5 signature build
    nb = minhash_bands(new_df, text_col, id_col, **params).localCheckpoint(eager=True)
    vs_index = minhash_pairs_between(
        new_df, idx, text_col, id_col, max_bucket=max_bucket, new_bands=nb, **params
    )
    within = minhash_candidate_pairs(
        new_df, text_col, id_col, max_bucket=max_bucket, bands_df=nb, **params
    )
    out = vs_index.union(within).distinct()
    if update_index:
        out = out.localCheckpoint(eager=True)  # pin results BEFORE the append
        # layout-aware append (ADVICE r5): see _append_bands
        _append_bands(spark, nb, index_path, "append")
    return out


def fuzzy_text_join(
    left: DataFrame,
    right: DataFrame,
    *,
    text_col: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_shingle_freq: int = 10000,
) -> DataFrame:
    """Entity-resolution join: pairs (left row, right row) whose texts
    have n-gram Jaccard >= ``threshold`` — the cross-TABLE form of
    ``ngram_jaccard_pairs`` (match a crawl against a curated corpus, a
    vendor feed against a catalog, ...). EXACT, not LSH-approximate:
    both sides ride the same posting-list inverted index (side-tagged
    surrogate ids, one uniform shingle shuffle, stop-shingle cap), so
    every qualifying pair is found — which is also what makes the result
    SQL-replayable. Output: (left_id, right_id, jaccard), original id
    types restored.

    Scale note (VERDICT r9 item 3): posting lists are SIDE-TAGGED and
    pair expansion emits only L×R combinations — intra-side pairs are
    never generated, not generated-then-filtered. Buckets whose members
    all sit on one side (most of a lopsided crawl × catalog join) are
    dropped by the per-side window counts BEFORE collect, so they never
    reach the aggregation buffer either. Per-bucket pair cost is
    |L|·|R| ≤ (max_shingle_freq/2)², reached only when both sides share
    a shingle."""
    lt = left.select(
        F.col(left_id).cast("string").alias("__id"),
        F.col(text_col).alias("__text"),
        F.lit("L").alias("__side"),
    )
    rt = right.select(
        F.col(right_id).cast("string").alias("__id"),
        F.col(text_col).alias("__text"),
        F.lit("R").alias("__side"),
    )
    both = lt.unionByName(rt)
    sh = both.select(
        "__id",
        "__side",
        F.explode_outer(word_shingles(F.col("__text"), shingle_n)).alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    # cap-before-collect with per-side counts: a bucket must have BOTH
    # sides represented to produce any cross pair — one-sided buckets
    # (the bulk of a lopsided join's vocabulary) are filtered out before
    # collect_list buffers anything, same discipline as
    # capped_posting_lists' singleton pruning
    w = Window.partitionBy("shingle")
    l_n = F.sum(F.when(F.col("__side") == "L", 1).otherwise(0)).over(w)
    posting = (
        sh.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .withColumn("__l_n", l_n)
        .where(
            (F.col("__bucket_n") <= max_shingle_freq)
            & (F.col("__l_n") >= 1)
            & (F.col("__bucket_n") - F.col("__l_n") >= 1)
        )
        .groupBy("shingle")
        .agg(
            F.collect_list(
                F.struct(F.col("__side").alias("s"), F.col("__id").alias("i"))
            ).alias("__items")
        )
    )
    # L×R expansion only — pure Catalyst, no intra-side structs ever built
    pairs_arr = let(
        F.transform(
            F.filter(F.col("__items"), lambda x: x["s"] == F.lit("L")),
            lambda x: x["i"],
        ),
        lambda larr: let(
            F.transform(
                F.filter(F.col("__items"), lambda x: x["s"] == F.lit("R")),
                lambda x: x["i"],
            ),
            lambda rarr: F.flatten(
                F.transform(
                    larr,
                    lambda x: F.transform(
                        rarr,
                        lambda y: F.struct(x.alias("id_l"), y.alias("id_r")),
                    ),
                )
            ),
        ),
    )
    shared = (
        posting.select(F.explode_outer(pairs_arr).alias("p"))
        .where(F.col("p").isNotNull())
        .groupBy("p.id_l", "p.id_r")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes_l = left.select(
        F.col(left_id).cast("string").alias("id_l"),
        F.size(word_shingles(F.col(text_col), shingle_n)).alias("size_l"),
    ).where(F.col("size_l") > 0)
    sizes_r = right.select(
        F.col(right_id).cast("string").alias("id_r"),
        F.size(word_shingles(F.col(text_col), shingle_n)).alias("size_r"),
    ).where(F.col("size_r") > 0)
    return (
        shared.join(sizes_l, "id_l")
        .join(sizes_r, "id_r")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("size_l") + F.col("size_r") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("id_l").cast(left.schema[left_id].dataType).alias(f"{left_id}_left"),
            F.col("id_r")
            .cast(right.schema[right_id].dataType)
            .alias(f"{right_id}_right"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def pair_group_matrix(
    pairs: DataFrame,
    corpus: DataFrame,
    group_col: str = "source",
    *,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Where do the near-dups come from? Classify every candidate pair by
    the (unordered) pair of ``group_col`` values its two docs belong to —
    the mirror-detection matrix: a heavy OFF-diagonal cell is two sources
    re-hosting the same content (dedup by canonical-source preference);
    a heavy diagonal cell is one source re-ingesting itself (fix the
    crawler). The group pair is ordered lexically so (a,b) and (b,a)
    land in one cell.

    Output: one row per observed group pair — ``group_a`` ≤ ``group_b``,
    ``n_pairs``, ``within`` (1 if same group), ``share`` (of all
    classified pairs, 6dp). Pairs whose docs are missing from ``corpus``
    are dropped (no group evidence). Scale shape: two id-keyed equi-joins
    of the candidate list against a two-column corpus projection
    (blocker output is bucket-capped upstream, so O(|pairs|)), then a
    group-pair-keyed aggregate bounded by (#groups)² rows; the share
    denominator is a 1-row broadcast."""
    g = corpus.select(F.col(id_col), F.col(group_col).alias("__g"))
    j = (
        pairs.select(id_a, id_b)
        .join(g.select(F.col(id_col).alias(id_a), F.col("__g").alias("__ga")), id_a)
        .join(g.select(F.col(id_col).alias(id_b), F.col("__g").alias("__gb")), id_b)
        .select(
            F.least("__ga", "__gb").alias("group_a"),
            F.greatest("__ga", "__gb").alias("group_b"),
        )
    )
    cells = pin(
        j.groupBy("group_a", "group_b").agg(F.count(F.lit(1)).alias("n_pairs")),
        eager=False,
    )
    # ^ cells ((#groups)²-bounded) feeds the output AND the share
    # denominator; without the cut the whole candidate-banding + two-join
    # lineage executes twice (r15 optimization pass — the plan read the
    # corpus 6× for a 2-join matrix). Lazy: the denominator's broadcast
    # build is the first action and materializes the cache.
    tot = cells.agg(F.sum("n_pairs").alias("__tot"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "group_a",
            "group_b",
            "n_pairs",
            (F.col("group_a") == F.col("group_b")).cast("long").alias("within"),
            F.round(
                F.col("n_pairs").cast("double") / F.col("__tot").cast("double"), 6
            ).alias("share"),
        )
    )


def blocker_recall_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sample_rate: float = 0.1,
    salt: str = "recall-v1:",
    tau: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    max_shingle_freq: int = 1000000,
) -> DataFrame:
    """Measured RECALL of the MinHash LSH blocker against exact n-gram
    Jaccard ground truth, on a deterministic md5-bucket sample of the
    corpus — the "measure, don't guess" companion to
    ``similarity.pair_threshold_sweep`` (which calibrates the confirm
    stage's PRECISION): before trusting a banding configuration at
    100 TB, compute on a sample what fraction of truly-similar pairs
    (exact Jaccard ≥ ``tau``) the bands actually surface. Tuning
    num_hashes/bands from the theoretical S-curve alone misses the
    corpus's real similarity distribution; this reports the observed
    number.

    Scale shape: the sample is rate-bounded (hash-bucket, reproducible);
    ground truth is the exact posting-list Jaccard (never all-pairs) and
    the blocker is the banded pair generation, both over sample-sized
    inputs; the comparison is one pair-keyed left join and a single-row
    aggregate. Output: one row — n_sampled_docs, n_true_pairs,
    n_blocked_pairs, n_found (true pairs the blocker surfaced), recall
    (6dp; NULL when the sample has no true pairs)."""
    from commercepulse_data_pipeline_spark.operators.sampling import (
        deterministic_sample,
    )

    sample = deterministic_sample(df, id_col, sample_rate, salt=salt)
    # truth and blocked each feed TWO consumers (the hit semi-join and
    # their own count aggregates); without a lineage cut the exact
    # posting-list Jaccard and the full banding build execute twice each
    # (r15 optimization pass — the uncut plan scanned the corpus 9×).
    # Eager, not lazy: the count aggregates run as CONCURRENT broadcast
    # jobs, so a lazy checkpoint could still race both lineages once.
    truth = pin(
        ngram_jaccard_pairs(
            sample, text_col, id_col,
            shingle_n=shingle_n, threshold=tau, max_shingle_freq=max_shingle_freq,
        ).select("id_a", "id_b"),
        eager=True,
    )
    blocked = pin(
        minhash_candidate_pairs(
            sample, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            max_bucket=max_bucket,
        ),
        eager=True,
    )
    hit = truth.join(blocked, ["id_a", "id_b"], "left_semi")
    n_docs = sample.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_sampled_docs")
    )
    agg = (
        truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(F.broadcast(blocked.agg(F.count(F.lit(1)).alias("n_blocked_pairs"))))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_found"))))
    )
    return (
        F.broadcast(n_docs)
        .crossJoin(agg)
        .select(
            F.col("n_sampled_docs").cast("long").alias("n_sampled_docs"),
            F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
            F.col("n_blocked_pairs").cast("long").alias("n_blocked_pairs"),
            F.col("n_found").cast("long").alias("n_found"),
            F.when(
                F.col("n_true_pairs") > 0,
                F.round(
                    F.col("n_found").cast("double")
                    / F.col("n_true_pairs").cast("double"),
                    6,
                ),
            ).alias("recall"),
        )
    )
