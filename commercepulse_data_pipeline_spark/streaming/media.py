"""Continuous media feature extraction — the streaming form of
``multimodal.extract_features`` (binary drops in, typed feature rows
out).

Per micro-batch (``foreachBatch``): decode/featurize the batch through
``multimodal.extract_features_tolerant`` — the one Arrow-batched
feature-row loop, which the strict batch operator also runs
(``decoder=`` picks the deterministic fake codec or ``real_decode``'s
pure-Python decoders), and land the feature rows under the batch's own
``ingest_batch=N`` partition — the replay-idempotent overwrite contract
every store in ``streaming/`` follows.

``on_error="null"`` (default) maps undecodable payloads to NULL feature
fields instead of failing the batch — a streaming pipeline must not wedge
on one corrupt blob; the ``decode_error`` column carries the message for
a quarantine query. ``on_error="raise"`` keeps the batch operator's
strict behavior.

At 100 TB: per-batch cost is one Arrow decode pass over the new blobs;
the feature store grows by one small partition per batch and compacts
with ``sources.readers.compact_streaming_index`` like every other store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# the feature-row loop lives in multimodal; both names stay importable
# from here
from commercepulse_data_pipeline_spark.multimodal import (  # noqa: F401
    FEATURE_ERR_SCHEMA,
    DeterministicFakeDecoder,
    extract_features_tolerant,
)
from commercepulse_data_pipeline_spark.streaming import batches


def media_features_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    decoder=DeterministicFakeDecoder.decode,
    batch_rows: int = 64,
) -> None:
    """Featurize one micro-batch and land it under its own partition
    (replay-idempotent overwrite)."""
    batches.write(
        extract_features_tolerant(batch_df, decoder=decoder, batch_rows=batch_rows),
        store_dir,
        batch_id,
    )


def image_hash_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    hamming_threshold: int = 6,
    sig_col: str = "ahash",
    max_bucket: int = 1000,
    cluster: bool = False,
    modality: str = "image",
    drop_degenerate: bool = True,
) -> None:
    """Continuous image near-dup detection (r13): per micro-batch of
    (media_id, content) rows, perceptual hashes land under
    ``{store}/hashes/ingest_batch=N`` and the batch's near-dup pairs —
    within-batch AND against every earlier batch's hashes — under
    ``{store}/pairs/ingest_batch=N``. Both writes are replay-idempotent
    per-batch overwrites; the cross-batch probe reads the hash store
    fold-aware and EXCLUDES the batch's own partition (a replayed batch
    must not pair against its first attempt — the streaming/corpus.py
    replay lesson), so a replay reproduces its pair set bit-identically.

    The pairs stream is POLICY-FREE: downstream decides (fold into a
    cluster table via graph.update_cluster_table, keep-first drop,
    human-review queue). ``cluster=True`` (r14) performs that fold
    inline: the batch's pairs land in the persisted cluster table at
    ``{store}/clusters`` (created on the first pairing batch) via the
    same affected-subgraph-only ``update_cluster_table`` the text tier
    uses — media_id strings key the table directly (canonical = min id,
    lexicographic), so images get the identical keep-best / savings /
    quarantine downstream. Replay converges for the same reason the
    text cluster stream's does: re-derived pairs are bit-identical
    (own-partition exclusion) and folding an unchanged pair set is
    idempotent. ``sig_col`` picks the signature ('ahash'
    default; 'dhash' for brightness-shifted re-crawl hunting). At scale:
    per-batch cost is one Arrow decode pass + the pigeonhole block
    probe of an (id, sig) store — 16 bytes per image, the cheapest
    image-dedup index there is."""
    from commercepulse_data_pipeline_spark.multimodal import (
        audio_hash,
        image_ahash,
    )
    from commercepulse_data_pipeline_spark.operators import dedup as dd

    from pyspark.sql import functions as F

    spark = batch_df.sparkSession
    if modality == "audio":
        # the audio sibling (r14): the gain-invariant energy-envelope
        # hash replaces the image hashes; everything downstream — the
        # 8-byte/item sig store, the pigeonhole probe, the pair feed,
        # the optional cluster fold — is signature-agnostic already
        hasher, sig_col = audio_hash, "ehash"
    else:
        hasher = image_ahash
    hashes = hasher(batch_df).localCheckpoint(eager=True)
    sigs = hashes.where(F.col(sig_col).isNotNull()).select(
        "media_id", F.col(sig_col).alias("sig")
    )
    if drop_degenerate:
        # r15 guard: solid-color / silence families hash to the two
        # constant signatures, form one giant bucket, and either flood
        # junk pairs or (past max_bucket) silently lose ALL pairs — the
        # media tier's stop-shingles. Filtered from pairing on BOTH the
        # batch and index sides; the hash STORE keeps every row, so the
        # decision is reversible downstream.
        sigs = dd.drop_degenerate_sigs(sigs, sig_col="sig")
    pairs = dd.sig_hamming_pairs(
        sigs, id_col="media_id",
        hamming_threshold=hamming_threshold, max_bucket=max_bucket,
    )
    hash_root = f"{store_dir}/hashes"
    idx = batches.prior(spark, hash_root, batch_id)
    if idx is not None:
        idx_sigs = idx.where(F.col(sig_col).isNotNull()).select(
            "media_id", F.col(sig_col).alias("sig")
        )
        if drop_degenerate:
            idx_sigs = dd.drop_degenerate_sigs(idx_sigs, sig_col="sig")
        vs_index = dd.sig_hamming_pairs_between(
            sigs, idx_sigs, id_col="media_id",
            hamming_threshold=hamming_threshold, max_bucket=max_bucket,
        )
        pairs = pairs.unionByName(vs_index).distinct()
    if cluster:
        import os

        from commercepulse_data_pipeline_spark.operators import graph

        # the pair set feeds BOTH the fold and the pairs write below —
        # pin it once so the block-join lineage doesn't run twice
        pairs = pairs.localCheckpoint(eager=True)
        table_rows = f"{store_dir}/clusters/clusters"
        if os.path.exists(table_rows) or os.path.exists(table_rows + ".old"):
            graph.update_cluster_table(spark, f"{store_dir}/clusters", pairs)
        elif not pairs.isEmpty():  # take(1) probe — limit(1).count() recompiles codegen per batch (r16)
            graph.write_cluster_table(
                graph.dedup_clusters(pairs),
                f"{store_dir}/clusters",
                provenance={
                    "blocker": "sig_hamming", "sig_col": sig_col,
                    "hamming_threshold": hamming_threshold,
                    "max_bucket": max_bucket,
                },
            )
    batches.write(pairs, f"{store_dir}/pairs", batch_id)
    batches.write(hashes, hash_root, batch_id)


def video_hash_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    hamming_threshold: int = 4,
    min_match_frac: float = 0.5,
    max_frames: int = 16,
    max_bucket: int = 1000,
    cluster: bool = False,
    drop_degenerate: bool = True,
) -> None:
    """Continuous VIDEO near-dup detection (r14): per micro-batch of
    (media_id, content) rows, per-frame perceptual signatures land under
    ``{store}/frames/ingest_batch=N`` and the batch's video-level
    near-dup pairs — within-batch AND against every earlier batch's
    frame index, with containment semantics — under
    ``{store}/pairs/ingest_batch=N``. The same replay discipline as the
    image form: per-batch overwrites, own-partition exclusion on the
    index probe, so a replayed batch reproduces its pair set
    bit-identically; ``cluster=True`` folds the pairs into
    ``{store}/clusters`` (idempotent fold). At scale: O(batch) frame
    decode + a probed-key-restricted index scan — the frame index costs
    ~8 bytes x max_frames per video."""
    from commercepulse_data_pipeline_spark.multimodal import (
        video_frame_hashes,
        video_neardup_pairs,
        video_neardup_pairs_between,
    )
    from commercepulse_data_pipeline_spark.operators import dedup as dd

    spark = batch_df.sparkSession
    frames = video_frame_hashes(
        batch_df, max_frames=max_frames
    ).localCheckpoint(eager=True)
    pair_frames = frames
    if drop_degenerate:
        # r15 guard: solid-color frames (title cards, black leaders)
        # hash to the constant signatures and form one giant frame
        # bucket — drop them from PAIRING (containment denominators then
        # count informative frames only); the frame STORE keeps all rows
        pair_frames = dd.drop_degenerate_sigs(frames, sig_col="ahash")
    pairs = video_neardup_pairs(
        pair_frames, hamming_threshold=hamming_threshold,
        min_match_frac=min_match_frac, max_bucket=max_bucket,
    )
    frames_root = f"{store_dir}/frames"
    idx = batches.prior(spark, frames_root, batch_id)
    if idx is not None:
        if drop_degenerate:
            idx = dd.drop_degenerate_sigs(idx, sig_col="ahash")
        vs_index = video_neardup_pairs_between(
            pair_frames, idx, hamming_threshold=hamming_threshold,
            min_match_frac=min_match_frac, max_bucket=max_bucket,
        )
        pairs = pairs.unionByName(vs_index).distinct()
    pairs = pairs.localCheckpoint(eager=True)
    if cluster:
        import os

        from commercepulse_data_pipeline_spark.operators import graph

        table_rows = f"{store_dir}/clusters/clusters"
        if os.path.exists(table_rows) or os.path.exists(table_rows + ".old"):
            graph.update_cluster_table(
                spark, f"{store_dir}/clusters", pairs.select("id_a", "id_b")
            )
        elif not pairs.isEmpty():  # take(1) probe — see note above
            graph.write_cluster_table(
                graph.dedup_clusters(pairs.select("id_a", "id_b")),
                f"{store_dir}/clusters",
                provenance={
                    "blocker": "video_frame_hamming",
                    "hamming_threshold": hamming_threshold,
                    "min_match_frac": min_match_frac,
                    "max_frames": max_frames,
                },
            )
    batches.write(pairs, f"{store_dir}/pairs", batch_id)
    batches.write(frames, frames_root, batch_id)
