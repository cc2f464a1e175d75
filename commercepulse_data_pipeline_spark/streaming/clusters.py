"""Continuous cluster-table maintenance — the streaming form of the
``cluster-table --update`` CLI loop (extension tier; the "cluster, then
decide" counterpart of streaming/corpus.py, which DROPS near-dups on
arrival: here every doc lands and the near-dup CLUSTER STATE is what the
stream maintains, so downstream keep-best / savings / quarantine policy
can change without re-ingesting).

Per micro-batch (``foreachBatch`` — cluster state lives in the persisted
cluster table and the MinHash band index, not in Spark streaming state:
LSH band keys are not a watermarkable key space, and cluster membership
is a corpus-lifetime fact):

1. band the batch once; candidate pairs = within-batch +
   ``minhash_pairs_between`` against the accumulated index (own
   ingest_batch partition EXCLUDED — a replayed batch must not see its
   first attempt's bands, the streaming/corpus.py replay lesson);
2. fold the pairs into the persisted cluster table with
   ``graph.update_cluster_table`` — affected-subgraph-only CC, rows
   swapped crash-safely (rename-aside);
3. write the batch's bands under ``{store}/index/bands/ingest_batch=N``
   (replay-idempotent per-batch overwrite, same sidecar as
   ``write_minhash_index`` so the index is a full-fledged
   ``minhash_pairs_incremental`` store).

Replay convergence (no exactly-once sink needed): re-deriving a batch's
pairs yields the same pair set (own-partition exclusion keeps the index
view identical), and folding the SAME pairs into a cluster table is
idempotent — connected components of an unchanged graph are unchanged.
A crash between the table swap and the band write (either order)
replays to the same state; the table swap itself is crash-safe inside
``update_cluster_table``.

At 100 TB: per-batch cost is O(batch) banding + a probed-key-restricted
index scan + CC over the batch-proportional affected subgraph — the
corpus-sized pair graph never rebuilds.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df

from commercepulse_data_pipeline_spark.operators import dedup as dd
from commercepulse_data_pipeline_spark.operators import graph
from commercepulse_data_pipeline_spark.streaming import batches
from commercepulse_data_pipeline_spark.streaming.corpus import DEFAULT_PARAMS


def cluster_table_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    params: dict | None = None,
    max_bucket: int = 1000,
) -> None:
    """Fold one micro-batch of (doc_id, text, ...) rows into the
    persisted cluster table at ``{store_dir}/clusters`` (created on the
    first batch), maintaining the MinHash band index at
    ``{store_dir}/index`` alongside."""
    p = dict(DEFAULT_PARAMS, **(params or {}))
    spark = batch_df.sparkSession

    # band ONCE (eager checkpoint): consumed by within-batch pairs, the
    # index probe, and the index write
    batch_bands = dd.minhash_bands(batch_df, "text", "doc_id", **p).localCheckpoint(
        eager=True
    )
    pairs = dd.minhash_candidate_pairs(
        batch_df, "text", "doc_id", max_bucket=max_bucket, bands_df=batch_bands, **p
    )

    bands_root = f"{store_dir}/index/bands"
    # without its own partition, a replayed batch's pair set stays
    # bit-identical (pairing against its first attempt's bands would only
    # duplicate pairs, which the fold tolerates)
    idx = batches.prior(spark, bands_root, batch_id)
    if idx is not None:
        vs_index = dd.minhash_pairs_between(
            batch_df, idx, "text", "doc_id",
            max_bucket=max_bucket, new_bands=batch_bands, **p,
        )
        pairs = pairs.union(vs_index).distinct()

    table_rows = f"{store_dir}/clusters/clusters"
    if os.path.exists(table_rows) or os.path.exists(table_rows + ".old"):
        graph.update_cluster_table(spark, f"{store_dir}/clusters", pairs)
    else:
        graph.write_cluster_table(
            graph.dedup_clusters(pairs),
            f"{store_dir}/clusters",
            provenance=dict(p, blocker="minhash", max_bucket=max_bucket),
        )

    batches.write(batch_bands, bands_root, batch_id)
    # same sidecar as write_minhash_index: {store}/index is a full index
    meta = dict(p, id_col="doc_id", text_col="text")
    one_slice_df(
        spark, [(json.dumps(sorted(meta.items())),)], "meta string"
    ).write.mode("overwrite").json(f"{store_dir}/index/meta")
