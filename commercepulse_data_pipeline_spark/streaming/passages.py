"""Continuous substring-level passage dedup — the streaming form of
``operators/text.py::dedup_passages`` (detection → CORRECTION, applied
as documents arrive).

Per micro-batch (``foreachBatch`` — cross-batch state lives in a
persisted fingerprint index, not Spark streaming state, because the md5
fingerprint space is not watermarkable):

1. fingerprint this batch's documents (``window_tokens``-token rolling
   windows) with ``operators/text.py::window_occurrences``, the same
   occurrence table the batch operators build;
2. decide duplicated windows with CROSS-BATCH counts: a fingerprint is
   duplicated when (docs already indexed) + (distinct docs in this
   batch) ≥ ``min_docs``. If the index already holds the fingerprint,
   its canonical occurrence lives in an EARLIER batch (keep-first, the
   same retention discipline as ``clean_corpus_batch``) and every batch
   occurrence is spliced; otherwise the smallest (doc_id, position) in
   the batch survives — so a corpus arriving in one batch reproduces the
   batch operator exactly;
3. splice the duplicate windows out with ``text.splice_windows`` — the
   one splice routine every batch and streaming window-splice operator
   shares, so only the duplicate-window rule differs from the batch
   operator — and land the rewritten docs under
   ``{store}/corpus/ingest_batch=N``;
4. append this batch's per-fingerprint distinct-doc counts to
   ``{store}/fp_index/ingest_batch=N``.

Idempotency: both writes land in batch-id-named directories with
``overwrite`` mode, and the index read side EXCLUDES the current batch's
own partition — a checkpoint replay of batch N reproduces N's first
attempt instead of splicing against it (the same replay hazard
``clean_corpus_batch`` documents). Index counts are additive across
partitions, so the per-batch overwrite keeps the sum exact under
replays. The index read goes through ``fold_consistent_read``, so a
``compact_streaming_index`` fold of the fp partitions (row-preserving —
readers re-sum) can run concurrently: while the fold's intent record is
present the read sees the post-fold store, never a folded partition
beside the consolidated one that already holds its counts.

At 100 TB: per-batch cost is O(batch) fingerprinting + one fp-keyed
semi-restricted index join; batch text crosses exactly one doc-keyed
join (the same shape as the batch operator), and the index grows by the
batch's distinct fingerprints, uniformly md5-partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.text import (
    rolling_fingerprints,
    splice_windows,
    window_occurrences,
)
from commercepulse_data_pipeline_spark.streaming import batches


def passage_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    window_tokens: int = 8,
    min_docs: int = 2,
) -> None:
    """Process one micro-batch of (doc_id, text, ...) rows: splice out
    passages duplicated within the batch or against the accumulated
    fingerprint index, append rewritten docs + this batch's fingerprint
    counts under the batch's own directories."""
    spark = batch_df.sparkSession
    fp_root = f"{store_dir}/fp_index"

    staged, occ = window_occurrences(
        batch_df, doc_col="doc_id", text_col="text", window_tokens=window_tokens
    )
    # occurrence table feeds stats, the dup join and the index write —
    # eager checkpoint so the tokenize+md5 build runs once
    occ = occ.localCheckpoint(eager=True)
    stats = occ.groupBy("__fp").agg(
        F.countDistinct("__doc").alias("__n_batch"),
        F.min(F.struct("__doc", "__pos")).alias("__canon"),
    )
    # without its own partition: a replayed batch must not see its first
    # attempt's fingerprints as "indexed" — every within-batch canonical
    # would turn into a cross-batch dup and the overwrite would splice
    # docs the first attempt kept intact
    idx = batches.prior(spark, fp_root, batch_id)
    if idx is not None:
        idx = idx.groupBy("fp").agg(F.sum("n_docs").alias("__n_idx"))
        stats = stats.join(
            idx.select(F.col("fp").alias("__fp"), "__n_idx"), "__fp", "left"
        )
    else:
        stats = stats.withColumn("__n_idx", F.lit(None).cast("long"))
    n_idx = F.coalesce(F.col("__n_idx"), F.lit(0))
    dup_windows = (
        occ.join(
            stats.where(n_idx + F.col("__n_batch") >= min_docs), "__fp"
        )
        .where(
            # an indexed fingerprint's canonical lives in an earlier
            # batch: every occurrence here is a duplicate. Otherwise the
            # batch-local canonical survives.
            (n_idx > 0)
            | (F.col("__doc") != F.col("__canon.__doc"))
            | (F.col("__pos") != F.col("__canon.__pos"))
        )
        .select("__doc", "__pos")
    )
    out = splice_windows(
        staged, dup_windows, doc_col="doc_id", window_tokens=window_tokens,
        keep=[c for c in batch_df.columns if c != "text"], text_out="text",
    )
    batches.write(out, f"{store_dir}/corpus", batch_id)
    batches.write(
        occ.groupBy(F.col("__fp").alias("fp")).agg(
            F.countDistinct("__doc").alias("n_docs")
        ),
        fp_root,
        batch_id,
    )


def seed_probe_fingerprints(
    probes: DataFrame,
    store_dir: str,
    *,
    window_tokens: int = 8,
    min_docs: int = 2,
) -> None:
    """Pre-seed the fingerprint index with an evaluation/benchmark set so
    the stream decontaminates as it deduplicates: every probe window is
    written with ``n_docs = min_docs`` under the reserved partition
    ``ingest_batch=-2`` (no real batch id), so ANY arriving occurrence
    crosses the duplicate threshold on its own and — because the
    fingerprint is "indexed" — has no canonical survivor, exactly
    :func:`operators.contamination.scrub_contamination` semantics applied
    continuously. Idempotent overwrite; call before (or any time during)
    the stream."""
    fps = rolling_fingerprints(F.col("text"), window_tokens)
    batches.write(
        probes.select(F.explode_outer(fps).alias("fp"))
        .where(F.col("fp").isNotNull())
        .distinct()
        .withColumn("n_docs", F.lit(min_docs).cast("long")),
        f"{store_dir}/fp_index",
        -2,
    )
