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

The blocked-pair step exists once, for every near-dup operator here and in
``similarity``, ``text`` and ``streaming/embeddings``: ``_bucket_pairs``
(all pairs within each capped bucket) and ``_probe_pairs`` (an arriving
batch against a persisted bucketed index), over shingle rows from
``_shingle_rows`` and signature blocks from ``_sig_block_keys``.

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
from commercepulse_data_pipeline_spark.streaming import batches


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
        F.col("doc_id"),
        F.md5(F.col("text")).alias("__h_old"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col("doc_id"),
        F.md5(F.col("text")).alias("__h_new"),
        F.lit(True).alias("__in_new"),
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~F.col("__h_old").eqNullSafe(F.col("__h_new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, on="doc_id", how="full_outer")
        .select(F.col("doc_id"), status.alias("status"))
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
    max_bucket: int = 1000,
) -> DataFrame:
    """Block-bucket occupancy for a 64-bit signature table under EXACTLY
    the keys :func:`sig_hamming_pairs` joins on (same pigeonhole blocks,
    same cap) — run it alongside a pair job to see what the cap dropped
    instead of reading "no dups found" (r15 guard). Output shape is
    :func:`bucket_occupancy_report`'s three-band rollup."""
    return bucket_occupancy_report(
        _sig_block_keys(sigs, id_col, sig_col, hamming_threshold),
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


def _bucket_pairs(
    keyed: DataFrame, keys: list[str], item: Column, max_bucket: int
) -> DataFrame:
    """The blocked-pair step of every near-dup operator: one ``(id_a,
    id_b)`` row per ordered pair ``id_a < id_b`` of ``item`` values that
    share a ``keys`` bucket — once per shared bucket, so callers
    ``distinct()`` or count as they need. ``item`` may be a struct (it
    orders field by field, first field first); its pairs keep it whole.

    Shape: :func:`capped_posting_lists` (singleton and over-cap buckets
    never reach the collect), then all pairs of each posting list built
    in-array — pure Catalyst, a nested transform over the sorted list,
    generated inside the aggregation stage with no join.

    Memory: the pair array materializes len²/2 structs PER BUCKET ROW
    before the explode, so ``max_bucket`` (≈ 1000 → ≤ ~500k pairs ≈ a
    few MB) bounds it. Wider buckets are near-useless for similarity
    anyway (stop-shingles, boilerplate); drop or salt them instead of
    generating their pairs.

    The sorted list is let-bound (``functions/expr.py::let``): referenced
    inline from the outer lambda, ``array_sort`` would re-sort the bucket
    once per MEMBER (O(n² log n) per bucket). explode_OUTER + null
    filter, not a plain explode: the plain form's inferred non-empty
    filter would build the O(bucket²) pair array a second time per bucket
    row; pairs are never NULL, so dropping the outer null row is exact.
    """
    pairs = let(
        F.array_sort(F.col("__ids")),
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
    return (
        capped_posting_lists(keyed, keys, item, max_bucket=max_bucket)
        .select(F.explode_outer(pairs).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.id_a", "p.id_b")
    )


def _probe_pairs(
    new_keyed: DataFrame, index_keyed: DataFrame, keys: list[str], max_bucket: int
) -> DataFrame:
    """The incremental blocked-pair step: rows of an arriving batch
    (``new_keyed``: ``keys`` + ``__new_id`` + payload) joined to the rows
    of a persisted index (``index_keyed``: ``keys`` + ``__old_id`` +
    payload) that share a ``keys`` bucket, same-id pairs dropped. The
    caller applies its own verify step (Hamming, cosine) and projection.

    Per-ingest work is O(batch) + one pruned scan of the index: the
    batch's distinct keys BROADCAST as a left-semi filter, so the only
    index rows that ever shuffle are those whose bucket the batch
    actually probes; each probed key is then width-capped (``max_bucket``,
    window count — a degenerate boilerplate key in the index would
    otherwise fan each probing batch row into the whole bucket) before
    the pair join, whose batch side broadcasts too (an ingest batch is
    small by definition). Ids shared between batch and index (re-ingest)
    never pair with themselves."""
    probe_keys = F.broadcast(new_keyed.select(*keys).distinct())
    w = Window.partitionBy(*keys)
    return (
        index_keyed.join(probe_keys, keys, "left_semi")
        .withColumn("__key_n", F.count(F.lit(1)).over(w))
        .where(F.col("__key_n") <= max_bucket)
        .drop("__key_n")
        .join(F.broadcast(new_keyed), keys)
        .where(F.col("__old_id") != F.col("__new_id"))
    )


def _shingle_rows(
    df: DataFrame, keep: list[str], text_col: str, n: int, out: str
) -> DataFrame:
    """One row per (``keep`` columns, distinct n-word shingle of
    ``text_col``) — the shingle column named ``out``; docs with no
    shingle (< n tokens) yield no row.

    explode_OUTER + null filter, not a plain explode: the plain form's
    inferred non-empty filter (InferFiltersFromGenerate) evaluates the
    shingle construction a second time per row (see functions/expr.py);
    shingles are never NULL, so dropping the outer null row is exact."""
    return df.select(
        *keep, F.explode_outer(word_shingles(F.col(text_col), n)).alias(out)
    ).where(F.col(out).isNotNull())


def _shingle_set_sizes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, set_size) — distinct n-word shingle count per doc with at
    least one shingle. A pure per-doc projection of the (already
    distinct) shingle array: deriving it from the exploded rows instead
    (groupBy + count) would re-run the shingle explode, since Spark shares
    no subplan between two consumers. (A window count over the exploded
    rows computes it in ONE pass but shuffles them a second time —
    measured ≈ equal at sf0.1; at 100 TB the extra exchange costs more
    than the extra map-only scan.)"""
    return df.select(
        F.col(id_col), F.size(word_shingles(F.col(text_col), n)).alias("set_size")
    ).where(F.col("set_size") > 0)


def _shared_shingle_counts(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, max_shingle_freq: int
) -> DataFrame:
    """(id_a < id_b, shared) — distinct n-word shingles two docs share,
    for every pair sharing at least one shingle whose posting list holds
    2..``max_shingle_freq`` docs. The intersection count under exact
    Jaccard and containment: posting list per shingle (one uniform
    shuffle, cap-before-collect, so a stop-shingle's full id list is never
    buffered), never O(n²)."""
    sh = _shingle_rows(df, [id_col], text_col, shingle_n, "shingle")
    return (
        _bucket_pairs(sh, ["shingle"], F.col(id_col), max_shingle_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

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
    id. (An array-column signature inlines a huge expression tree that
    Catalyst may duplicate per consumer — measured 5-50× slower in
    multi-band plans.)

    Docs with zero shingles (< shingle_n tokens) produce no rows — same
    contract as the DuckDB oracle's unnest.
    """
    sh = _shingle_rows(df, [id_col], text_col, shingle_n, "__shingle")
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
    return _bucket_pairs(
        b, ["band_id", "band_key"], F.col(id_col), max_bucket
    ).distinct()


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
    shared = _shared_shingle_counts(df, id_col, text_col, shingle_n, max_shingle_freq)
    sizes = _shingle_set_sizes(df, id_col, text_col, shingle_n)
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

    Same distributed shape as the Jaccard path
    (:func:`_shared_shingle_counts`); each undirected count row emits
    both directions through a two-element explode — a union of two
    projections of the counts would derive them once per branch (Spark
    shares no subplan between union children). Output: (id_src, id_dst,
    containment) with containment rounded to 6 dp.
    """
    shared = _shared_shingle_counts(df, id_col, text_col, shingle_n, max_shingle_freq)
    directed = shared.select(
        F.explode_outer(
            F.array(
                F.struct(F.col("id_a").alias("id_src"), F.col("id_b").alias("id_dst")),
                F.struct(F.col("id_b").alias("id_src"), F.col("id_a").alias("id_dst")),
            )
        ).alias("d"),
        "shared",
    ).select("d.id_src", "d.id_dst", "shared")
    sizes = _shingle_set_sizes(df, id_col, text_col, shingle_n)
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


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
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

    Lane packing: bit counts i and i+32 share one 64-bit sum (two
    32-bit lanes — ``(h>>i & 1) + (h>>(i+32) & 1) << 32``), halving
    the aggregation buffer to 32 longs + count. Carry-safe: a lane
    overflows only past 2³² shingles in ONE document, orders of magnitude
    beyond any real doc. Measured ~10-15% faster than 64 separate sums at
    sf0.1 and half the per-group state at 100 TB. The unpacked counts
    (and hence the signature) are bit-identical — oracle parity
    unaffected. Signatures live in one long; bit 63 maps to the long's
    sign bit. Shingles are word 2-grams.
    """
    half = 32
    hashed = _shingle_rows(df, [id_col], text_col, 2, "__s").select(
        id_col, _md5_long(F.col("__s")).alias("__h")
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
        for i in range(64)
    ]
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    # docs with zero shingles produce no rows (same contract as minhash)
    return counts.select(F.col(id_col), total.alias("sig"))


def _sig_block_keys(
    sigs: DataFrame, id_col: str, sig_col: str, hamming_threshold: int
) -> DataFrame:
    """Explode a 64-bit signature table into its pigeonhole block keys:
    one row per (id, sig, block_id, block_val), the signature (renamed
    ``sig``) carried along for the exact-verify step. The one block
    geometry of the pair, probe and occupancy forms: ``hamming_threshold
    + 1`` blocks (at most 64) of ``64 // blocks`` bits — if hamming(a, b)
    <= threshold < blocks, at least one block matches exactly; bits past
    blocks * width are uncovered, which only ADDS candidates."""
    blocks = min(64, hamming_threshold + 1)
    width = max(1, 64 // blocks)
    sh = sigs.select(F.col(id_col), F.col(sig_col).alias("sig"))
    blocks_arr = F.array(*[
        F.struct(
            F.lit(i).alias("block_id"),
            F.shiftrightunsigned(F.col("sig"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("block_val"),
        )
        for i in range(blocks)
    ])
    return sh.select(
        id_col, "sig", F.explode_outer(blocks_arr).alias("b")
    ).select(id_col, "sig", "b.block_id", "b.block_val")


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    hamming_threshold: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, via block-LSH.

    Pigeonhole: if hamming(a,b) <= threshold < blocks, at least one of the
    ``blocks`` equal-width bit blocks matches exactly → join candidates on
    (block_id, block_value), verify true Hamming distance with
    bit_count(xor). Shuffle key is a hash block — uniform. ``blocks`` is
    ``hamming_threshold + 1`` (the minimum that preserves the recall
    guarantee); bits beyond blocks*width are uncovered, which only
    ADDS candidates (never loses the guarantee).

    ``max_bucket`` drops degenerate block buckets cap-before-collect
    (window count filter, ``capped_posting_lists``) — note a dropped bucket weakens the
    pigeonhole guarantee for its members (they have ``blocks - 1`` other
    chances); raise the cap when exact recall matters more than the
    degenerate-bucket O(n²)."""
    sh = simhash_table(df, text_col, id_col).where(F.col("sig").isNotNull())
    return sig_hamming_pairs(
        sh, id_col=id_col, hamming_threshold=hamming_threshold, max_bucket=max_bucket,
    )


def sig_hamming_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    hamming_threshold: int = 3,
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
    # each item carries its signature for the exact-verify step
    cand = (
        _bucket_pairs(
            _sig_block_keys(sigs, id_col, sig_col, hamming_threshold),
            ["block_id", "block_val"],
            F.struct(F.col(id_col), F.col("sig")),
            max_bucket,
        )
        .select(
            F.col(f"id_a.{id_col}").alias("id_a"),
            F.col("id_a.sig").alias("sig_a"),
            F.col(f"id_b.{id_col}").alias("id_b"),
            F.col("id_b.sig").alias("sig_b"),
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
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs between a NEW batch and an existing
    signature table — the simhash sibling of :func:`minhash_pairs_between`
    (r11): per-ingest work is O(new batch) + one pruned scan of the
    index, instead of re-signing the whole corpus per arrival. The index
    side is just (id, sig) rows — 8 bytes per doc, the cheapest near-dup
    index there is.

    Scale shape: :func:`_probe_pairs` on the pigeonhole block keys, as
    the minhash form does on band keys; the exact Hamming verify runs on
    the joined (sig, sig) pair — pigeonhole (threshold < blocks) keeps
    the output exactly "all cross pairs with hamming <= threshold",
    engine-independent given the signatures.

    Returns distinct (id_a < id_b, hamming); ids shared between batch
    and index (re-ingest) never pair with themselves."""
    new_sigs = simhash_table(new_df, text_col, id_col).where(F.col("sig").isNotNull())
    return sig_hamming_pairs_between(
        new_sigs, index_sigs, id_col=id_col, hamming_threshold=hamming_threshold,
        max_bucket=max_bucket,
    )


def sig_hamming_pairs_between(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Cross pairs within a Hamming radius between a NEW signature batch
    and an index signature table — the signature-agnostic core of
    :func:`simhash_pairs_between` (r13 refactor, the incremental sibling
    of :func:`sig_hamming_pairs`): with ``multimodal.image_ahash``
    output on both sides (its ``ahash`` column named ``sig``) this is
    incremental IMAGE near-dup ingest — hash the arriving batch, probe the
    persisted (id, sig) table
    (8 bytes/image, the cheapest image-dedup index there is), O(batch)
    per ingest. Scale/guarantee notes as on :func:`simhash_pairs_between`."""
    def keyed(sigs: DataFrame, side: str) -> DataFrame:
        return _sig_block_keys(
            sigs.select(F.col(id_col).alias(f"__{side}_id"), "sig"),
            f"__{side}_id", "sig", hamming_threshold,
        ).withColumnRenamed("sig", f"__sig_{side}")

    hamming = F.bit_count(F.col("__sig_old").bitwiseXOR(F.col("__sig_new")))
    return (
        _probe_pairs(
            keyed(new_sigs, "new"), keyed(index_sigs, "old"),
            ["block_id", "block_val"], max_bucket,
        )
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

    Scale shape: :func:`_probe_pairs` on the band keys — the index is
    restricted to the keys the batch probes and width-capped per key
    (``max_bucket``) before the pair join with the broadcast batch bands.

    Returns distinct (id_a < id_b) pairs; ids shared between batch and
    index (re-ingest) never pair with themselves.
    """
    if new_bands is None:
        new_bands = minhash_bands(
            new_df, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        )
    return (
        _probe_pairs(
            new_bands.withColumnRenamed(id_col, "__new_id"),
            index_bands.withColumnRenamed(id_col, "__old_id"),
            ["band_id", "band_key"],
            max_bucket,
        )
        .select(
            F.least("__old_id", "__new_id").alias("id_a"),
            F.greatest("__old_id", "__new_id").alias("id_b"),
        )
        .distinct()
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    bands_df: DataFrame | None = None,
) -> None:
    """Persist the corpus's LSH band table as its near-dup INDEX
    (mirroring the persisted LSH/PQ indexes in ``similarity``): the
    (id, band_id, band_key) rows land in ``bands/ingest_batch=-1``, the
    consolidated partition of the band store the streaming curation and
    cluster stores grow (``streaming/corpus.py``,
    ``streaming/clusters.py``), replacing whatever the store held; then
    the meta sidecar (:func:`write_minhash_index_meta`). Later batches
    append through ``minhash_pairs_incremental(update_index=True)`` or
    land as stream batches of the same store.

    ``bands_df``: the ``minhash_bands`` table of ``df`` under these
    parameters, when the caller has it pinned already."""
    params = dict(num_hashes=num_hashes, bands=bands, shingle_n=shingle_n)
    if bands_df is None:
        bands_df = minhash_bands(df, **params)
    batches.write_consolidated(bands_df, f"{path}/bands", "overwrite")
    write_minhash_index_meta(df.sparkSession, path, params)


def write_minhash_index_meta(spark, path: str, params: dict) -> None:
    """The band index's ``path/meta`` sidecar: one JSON row pinning the
    banding ``params`` (num_hashes, bands, shingle_n) and the id/text
    columns, so the read side always re-bands new docs with the SAME
    hash family. Every band index writer calls this. Params are constant
    per store, so rewriting the sidecar per batch is idempotent."""
    import json

    meta = dict(params, id_col="doc_id", text_col="text")
    one_slice_df(
        spark, [(json.dumps(sorted(meta.items())),)], "meta string"
    ).write.mode("overwrite").json(f"{path}/meta")


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
        batches.write_consolidated(nb, f"{index_path}/bands", "append")
    return out


def fuzzy_text_join(
    left: DataFrame,
    right: DataFrame,
    *,
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
    SQL-replayable. Both sides key on ``doc_id`` and ``text``. Output:
    (doc_id_left, doc_id_right, jaccard), original id types restored.

    Scale note (VERDICT r9 item 3): posting lists are SIDE-TAGGED and
    pair expansion emits only L×R combinations — intra-side pairs are
    never generated, not generated-then-filtered. Buckets whose members
    all sit on one side (most of a lopsided crawl × catalog join) are
    dropped by the per-side window counts BEFORE collect, so they never
    reach the aggregation buffer either. Per-bucket pair cost is
    |L|·|R| ≤ (max_shingle_freq/2)², reached only when both sides share
    a shingle."""
    lt = left.select(
        F.col("doc_id").cast("string").alias("__id"),
        F.col("text").alias("__text"),
        F.lit("L").alias("__side"),
    )
    rt = right.select(
        F.col("doc_id").cast("string").alias("__id"),
        F.col("text").alias("__text"),
        F.lit("R").alias("__side"),
    )
    both = lt.unionByName(rt)
    sh = _shingle_rows(both, ["__id", "__side"], "__text", shingle_n, "shingle")
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
        F.col("doc_id").cast("string").alias("id_l"),
        F.size(word_shingles(F.col("text"), shingle_n)).alias("size_l"),
    ).where(F.col("size_l") > 0)
    sizes_r = right.select(
        F.col("doc_id").cast("string").alias("id_r"),
        F.size(word_shingles(F.col("text"), shingle_n)).alias("size_r"),
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
            F.col("id_l").cast(left.schema["doc_id"].dataType).alias("doc_id_left"),
            F.col("id_r")
            .cast(right.schema["doc_id"].dataType)
            .alias("doc_id_right"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def pair_group_matrix(
    pairs: DataFrame,
    corpus: DataFrame,
    group_col: str = "source",
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
    g = corpus.select(F.col("doc_id"), F.col(group_col).alias("__g"))
    j = (
        pairs.select("id_a", "id_b")
        .join(g.select(F.col("doc_id").alias("id_a"), F.col("__g").alias("__ga")), "id_a")
        .join(g.select(F.col("doc_id").alias("id_b"), F.col("__g").alias("__gb")), "id_b")
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
            shingle_n=shingle_n, threshold=tau, max_shingle_freq=1000000,
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
