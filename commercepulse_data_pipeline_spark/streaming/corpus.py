"""Continuous corpus ingestion with near-dup filtering — the streaming
form of the ``clean-corpus`` CLI pipeline (extension tier; closes the
loop between the streaming tier and the LLM-curation operators).

Per micro-batch (``foreachBatch`` — cross-batch near-dup state lives in
the persisted MinHash index, not in Spark streaming state, because LSH
band keys are not a watermarkable key space):

1. scrub (line dedup + PII redaction, pure projections);
2. in-batch exact dedup (content hash, lowest id wins);
3. near-dup filter: ``minhash_pairs_between`` against the persisted
   index — KEEP-FIRST across batches (the indexed copy survives; the
   arriving near-dup is dropped) and lowest-id-wins within the batch;
4. append survivors to ``{store}/corpus/ingest_batch=N`` and their bands
   to ``{store}/index/bands/ingest_batch=N``.

Idempotency: every write lands in a batch-id-named directory with
``overwrite`` mode — a checkpoint replay of batch N overwrites N's own
output instead of duplicating it (the same pattern as the bronze sink's
exactly-once story, restated for a two-sink batch function). The index
read side globs the whole ``bands`` tree, so batch N+1 dedups against
everything batches ≤ N kept.

At 100 TB: per-batch cost is O(batch) + one scan of the index restricted
to probed band keys (broadcast semi-join — see ``minhash_pairs_between``);
the index grows by ``bands``-per-doc rows per kept doc, uniformly
partitioned by ingest batch.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df

from commercepulse_data_pipeline_spark.operators import dedup as dd
from commercepulse_data_pipeline_spark.operators import text as tx
from commercepulse_data_pipeline_spark.streaming import batches

DEFAULT_PARAMS = {"num_hashes": 8, "bands": 4, "shingle_n": 3}


def clean_corpus_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    params: dict | None = None,
    max_bucket: int = 1000,
    strip_repeats: bool = False,
    repeat_window: int = 8,
    min_repeats: int = 2,
    min_remaining_tokens: int = 1,
    quarantine: bool = False,
    html_col: str | None = None,
    quality_model_dir: str | None = None,
    quality_threshold: float = 0.0,
) -> None:
    """Process one micro-batch of (doc_id, text, ...) rows: optional
    HTML-to-text extraction, optional within-doc repeated-span removal,
    scrub, exact-dedup, near-dup-filter against the accumulated index,
    optional model-based quality gate, append survivors + their bands
    under this batch's own directory.

    ``html_col`` (r15) is the streaming twin of the CLI's ``--html-col``
    and, like ``strip_repeats``, is EXACTLY batch-equivalent with no
    cross-batch store: extraction is doc-local regex. ``quality_model_dir``
    (r15) is the streaming twin of ``--quality-model``: every batch
    scores against the SAME persisted NB model (a tiny broadcast table
    read per batch), so the verdict is doc-local and replay-idempotent;
    rejects quarantine as ``classifier_low_quality``.

    ``quarantine`` is the streaming twin of the CLI's ``--quarantine``:
    each batch also writes ``{store}/quarantine/ingest_batch=N`` with one
    (doc_id, reason) row per dropped doc, FIRST failing stage in stage
    order (repeat_hollowed → exact_dup → near_dup) — same
    replay-idempotent per-batch overwrite as the other two sinks, so
    quarantine ∪ kept partitions every batch exactly. Documented
    taxonomy divergence from the batch CLI: a CROSS-batch exact
    duplicate reports as ``near_dup`` here (in-batch exact dedup only
    sees its own batch; the identical doc's MinHash signature collides
    on every band, so the cross-batch index probe is what catches it).

    ``strip_repeats`` is the streaming twin of the CLI's
    ``--strip-repeats`` and is EXACTLY batch-equivalent with no
    cross-batch store at all: the repeat decision is doc-local
    (operators/text.py::strip_intradoc_repeats), so the batch boundary
    cannot change the result — unlike the passage/boilerplate twins,
    which need fingerprint stores for their cross-doc counts.
    ``min_remaining_tokens`` mirrors the CLI's --min-remaining-tokens
    hollowed-doc drop (r11 review: without the knob the two deployments'
    corpora silently diverged whenever the batch run used a threshold)."""
    p = dict(DEFAULT_PARAMS, **(params or {}))
    spark = batch_df.sparkSession

    rejects: list[DataFrame] = []

    def _reject(ids: DataFrame, reason: str) -> None:
        rejects.append(ids.select(F.col("doc_id"), F.lit(reason).alias("reason")))

    if html_col:
        extracted = tx.html_extract(batch_df, html_col, "doc_id").select(
            "doc_id", "text"
        )
        # one extraction per batch: the scrub/dedup/band stages below
        # each re-consume batch_df (the CLI chain-probe finding)
        batch_df = (
            batch_df.drop("text", html_col)
            .join(extracted, "doc_id")
            .localCheckpoint(eager=True)
        )
    if strip_repeats:
        derep = tx.strip_intradoc_repeats(
            batch_df, window_tokens=repeat_window, min_repeats=min_repeats
        )
        keep_derep = (
            F.col("n_tokens") - F.col("n_tokens_removed") >= min_remaining_tokens
        )
        if quarantine:
            # consumed twice below (keep + reject): cut the splice lineage
            derep = derep.localCheckpoint(eager=True)
            _reject(derep.where(~keep_derep), "repeat_hollowed")
        batch_df = (
            derep.where(keep_derep)
            .withColumn("text", F.col("text_derepeated"))
            .drop("text_derepeated", "n_tokens", "n_tokens_removed", "n_repeat_windows")
        )
    scrubbed = (
        tx.scrub(batch_df, "text").withColumn("text", F.col("scrubbed")).drop("scrubbed")
    )
    batch = dd.exact_dedup(scrubbed, "text", "doc_id")
    if quarantine:
        _reject(
            scrubbed.join(batch.select("doc_id"), "doc_id", "left_anti"),
            "exact_dup",
        )

    # band the batch ONCE (eager checkpoint): consumed by within-batch
    # pairs, probe keys, the pair join, and the survivors' index write —
    # each lazy evaluation would re-run the md5 signature build
    batch_bands = dd.minhash_bands(batch, "text", "doc_id", **p).localCheckpoint(
        eager=True
    )

    bands_root = f"{store_dir}/index/bands"
    # within-batch near-dups: lowest id wins (deterministic keep-first)
    within = dd.minhash_candidate_pairs(
        batch, "text", "doc_id", max_bucket=max_bucket, bands_df=batch_bands, **p
    ).select(F.col("id_b").alias("doc_id"))
    drop = within
    # Fold-aware read: compact_streaming_index's pre-commit window would
    # otherwise HIDE the consolidated bands partition — a silently missed
    # near-dup, the worst failure mode for a dedup index. Without its own
    # partition: a replayed batch would otherwise see its first attempt's
    # bands as "indexed", every within-batch near-dup pair would come back
    # as a cross-batch pair, BOTH members would be dropped, and the
    # overwrite would erase the doc the first attempt kept.
    idx = batches.prior(spark, bands_root, batch_id)
    if idx is not None:
        # cross-batch: the INDEXED copy survives; the arriving dup drops.
        # Pairs come back normalized (id_a < id_b), so "the batch side"
        # is whichever member is in this batch — the other member is an
        # index-only id the anti-join below can't touch anyway.
        vs_index = dd.minhash_pairs_between(
            batch, idx, "text", "doc_id",
            max_bucket=max_bucket, new_bands=batch_bands, **p,
        )
        pair_ids = vs_index.selectExpr("id_a AS doc_id").union(
            vs_index.selectExpr("id_b AS doc_id")
        )
        arriving = pair_ids.join(
            F.broadcast(batch.select("doc_id")), "doc_id", "left_semi"
        )
        drop = within.union(arriving).distinct()

    dropped = drop.distinct()
    if quarantine:
        # all near-dup losers, within-batch and cross-batch alike (both
        # sides are this batch's ids by construction); dropped is a tiny
        # id frame but its lineage spans the band build + both pair
        # joins, and it now has two consumers — cut it once
        dropped = dropped.localCheckpoint(eager=True)
        _reject(dropped, "near_dup")
    kept = batch.join(dropped, "doc_id", "left_anti")

    if quality_model_dir:
        # model-based quality gate (r15): same persisted model every
        # batch -> doc-local verdict, replay-idempotent. Gate AFTER the
        # dedup stages (scoring duplicates would just re-judge copies);
        # the model table broadcasts inside nb_score.
        from commercepulse_data_pipeline_spark.operators import (
            classifier as clf,
        )

        # kept gains extra consumers under the gate (scorer + reject
        # anti-join + semi-join, on top of the corpus/bands writes) and
        # its lineage spans both pair joins — cut it once
        kept = kept.localCheckpoint(eager=True)
        model, meta = clf.read_model(spark, quality_model_dir)
        if meta.get("kind", "nb-binary-v1") != "nb-binary-v1":
            raise ValueError(
                f"quality_model_dir {quality_model_dir} holds a "
                f"{meta.get('kind')!r} artifact; the streaming quality "
                f"gate needs a BINARY model"
            )
        scored = clf.nb_score(
            kept.select("doc_id", "text"), model,
            n_buckets=meta["n_buckets"], salt=meta["salt"],
        )
        keep_ids = scored.where(
            F.col("nb_logodds") >= quality_threshold
        ).select("doc_id")
        if quarantine:
            keep_ids = keep_ids.localCheckpoint(eager=True)
            _reject(
                kept.join(keep_ids, "doc_id", "left_anti"),
                "classifier_low_quality",
            )
        kept = kept.join(keep_ids, "doc_id", "left_semi")

    # idempotent two-sink write: both land under this batch's directory
    batches.write(kept, f"{store_dir}/corpus", batch_id)
    if quarantine:
        from functools import reduce as _reduce

        qdf = _reduce(DataFrame.unionByName, rejects)
        batches.write(qdf, f"{store_dir}/quarantine", batch_id)
    kept_bands = batch_bands.join(
        F.broadcast(kept.select("doc_id")), "doc_id", "left_semi"
    )
    batches.write(kept_bands, bands_root, batch_id)
    # same sidecar format as write_minhash_index, so {store}/index is a
    # full-fledged index: minhash_pairs_incremental can read it directly.
    # Written unconditionally — params are constant for a query, so the
    # overwrite is idempotent and needs no driver-local existence check.
    meta = dict(p, id_col="doc_id", text_col="text")
    one_slice_df(
        spark, [(json.dumps(sorted(meta.items())),)], "meta string"
    ).write.mode("overwrite").json(f"{store_dir}/index/meta")
