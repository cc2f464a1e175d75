"""Continuous corpus ingestion with near-dup filtering — the streaming
form of the ``clean-corpus`` CLI pipeline (extension tier), built from the
same stage constructors (operators/curation.py) and applied by the same
runner.

Per micro-batch (``foreachBatch`` — cross-batch near-dup state lives in
the persisted MinHash index, not in Spark streaming state, because LSH
band keys are not a watermarkable key space):

1. optional HTML extraction and within-doc repeat strip, then scrub and
   in-batch exact dedup (``curation.run`` over the shared stages);
2. band the survivors once;
3. near-dup filter: ``minhash_pairs_between`` against the persisted
   index — KEEP-FIRST across batches (the indexed copy survives; the
   arriving near-dup is dropped) and lowest-id-wins within the batch —
   then the optional quality gate (``curation.run`` again);
4. append survivors to ``{store}/corpus/ingest_batch=N`` and their bands
   to ``{store}/index/bands/ingest_batch=N``.

Idempotency: every write lands in a batch-id-named directory with
``overwrite`` mode — a checkpoint replay of batch N overwrites N's own
output instead of duplicating it (the same pattern as the bronze sink's
exactly-once story, restated for a two-sink batch function). The index
read side (``batches.prior``) reads every partition the ``bands`` store
lists, so batch N+1 dedups against
everything batches ≤ N kept — and against a ``write_minhash_index``
build, which lands in the same store's consolidated partition.

At 100 TB: per-batch cost is O(batch) + one scan of the index restricted
to probed band keys (broadcast semi-join — see ``minhash_pairs_between``);
the index grows by ``bands``-per-doc rows per kept doc, uniformly
partitioned by ingest batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators import curation as cur
from commercepulse_data_pipeline_spark.operators import dedup as dd
from commercepulse_data_pipeline_spark.streaming import batches

DEFAULT_PARAMS = {"num_hashes": 8, "bands": 4, "shingle_n": 3}


def clean_corpus_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    strip_repeats: bool = False,
    repeat_window: int = 8,
    quarantine: bool = False,
    html_col: str | None = None,
    quality_model_dir: str | None = None,
    quality_threshold: float = 0.0,
) -> None:
    """Process one micro-batch of (doc_id, text, ...) rows through the
    curation stages — optional HTML extraction (``html_col``), optional
    within-doc repeat strip (``strip_repeats``, window ``repeat_window``,
    at least 2 repeats, at least 1 token left), scrub, exact dedup,
    near-dup filter against the accumulated index, optional quality gate
    (``quality_model_dir``/``quality_threshold``) — and append survivors
    + their bands under this batch's own directory.

    HTML extraction, the repeat strip and the quality gate are doc-local
    (the gate scores every batch against the same persisted model, read
    and kind-checked before any work), so they are exactly
    batch-equivalent and replay-idempotent with no cross-batch store.

    ``quarantine`` also writes ``{store}/quarantine/ingest_batch=N`` with
    one (doc_id, reason) row per dropped doc, FIRST failing stage in
    stage order — same replay-idempotent per-batch overwrite as the other
    two sinks, so quarantine ∪ kept partitions every batch exactly.
    Documented taxonomy divergence from the batch CLI: a CROSS-batch exact
    duplicate reports as ``near_dup`` here (in-batch exact dedup only
    sees its own batch; the identical doc's MinHash signature collides
    on every band, so the cross-batch index probe is what catches it)."""
    p = DEFAULT_PARAMS
    spark = batch_df.sparkSession
    gate = (
        cur.quality_stage(spark, quality_model_dir, quality_threshold)
        if quality_model_dir else None
    )
    head = [cur.html_stage(html_col)] if html_col else []
    if strip_repeats:
        head.append(cur.strip_repeats_stage(repeat_window, 2, 1))
    batch, rejects = cur.run(
        batch_df, head + [cur.scrub_stage(), cur.exact_dedup_stage()], quarantine
    )

    # band the batch ONCE (eager checkpoint): consumed by within-batch
    # pairs, probe keys, the pair join, and the survivors' index write —
    # each lazy evaluation would re-run the md5 signature build
    batch_bands = dd.minhash_bands(batch, "text", "doc_id", **p).localCheckpoint(
        eager=True
    )
    bands_root = f"{store_dir}/index/bands"
    # Fold-aware read: in a store whose compact_streaming_index fold is
    # mid-commit (or crashed there), a plain read misses the consolidated
    # bands partition between its rename aside and its tmp's rename in —
    # a silently missed near-dup, the worst failure mode for a dedup
    # index. Without its own
    # partition: a replayed batch would otherwise see its first attempt's
    # bands as "indexed", every within-batch near-dup pair would come back
    # as a cross-batch pair, BOTH members would be dropped, and the
    # overwrite would erase the doc the first attempt kept.
    idx = batches.prior(spark, bands_root, batch_id)
    # under the gate the near-dup survivors gain the scorer and its
    # selection as consumers, on top of both writes: pin them
    near_dup = cur.cross_batch_near_dup_stage(
        batch_bands, idx, p, 1000, pin=True if gate else None
    )
    kept, tail_rejects = cur.run(batch, [near_dup] + ([gate] if gate else []), quarantine)

    # idempotent two-sink write: both land under this batch's directory
    batches.write(kept, f"{store_dir}/corpus", batch_id)
    if quarantine:
        batches.write(rejects.unionByName(tail_rejects), f"{store_dir}/quarantine", batch_id)
    kept_bands = batch_bands.join(
        F.broadcast(kept.select("doc_id")), "doc_id", "left_semi"
    )
    batches.write(kept_bands, bands_root, batch_id)
    # {store}/index is a full band index: minhash_pairs_incremental and
    # cluster-table --update read it directly
    dd.write_minhash_index_meta(spark, f"{store_dir}/index", p)
