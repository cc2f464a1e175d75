"""Continuous EMBEDDING ingestion with semantic near-dup filtering — the
vector twin of ``streaming/corpus.py`` (extension tier; closes the loop
between the streaming tier and the similarity/ANN operators).

Per micro-batch (``foreachBatch`` — cross-batch state lives in the
persisted sign-LSH index, not in Spark streaming state: LSH buckets are
not a watermarkable key space, and a near-dup vector can arrive
arbitrarily late):

1. bucket the batch with the index's persisted hyperplanes (first batch
   derives and persists them — deterministic from (dim, n_planes, seed),
   so a replayed first batch rewrites identical planes);
2. in-batch semantic dedup: posting-list candidate pairs per bucket
   (width-capped), exact cosine, ``>= tau`` → lowest vec_id wins;
3. cross-batch: index rows bucket-semi-joined against the batch's
   buckets (broadcast — per-ingest cost O(batch) + a probe-restricted
   index scan), exact cosine vs batch vectors, ``>= tau`` → the INDEXED
   copy survives, the arriving near-dup drops (keep-first across
   batches, same retention policy as the corpus stream);
4. write survivors to ``{store}/vectors/ingest_batch=N`` and append them
   to the index at ``{store}/index/lists/ingest_batch=N/lsh_bucket=B``.

Idempotency: both writes land in batch-id-named directories with
``overwrite`` mode, and the index read side EXCLUDES the current batch's
own partition — a checkpoint replay of batch N would otherwise see its
first attempt's vectors as "indexed" and drop both members of every
within-batch pair (the corpus stream's replay lesson, applied here from
the start).

The resulting ``{store}/index`` is a full-fledged sign-LSH index:
``similarity.lsh_topk_indexed`` queries it directly (the extra
``ingest_batch`` partition level does not disturb bucket pruning).

Recall note: candidates collide on their EXACT sign bucket (one table).
At the near-dup thresholds this stream is for (tau >= ~0.9) sign
agreement is likely but not certain; raise recall by lowering
``n_planes`` (coarser buckets) — the standard single-table trade-off.
The multi-table/multi-probe machinery lives in ``knn_join_self`` /
``lsh_topk`` for the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df

from commercepulse_data_pipeline_spark.operators.dedup import (
    _bucket_pairs,
    _probe_pairs,
)
from commercepulse_data_pipeline_spark.operators.similarity import (
    _dot,
    _norm,
    lsh_bucket,
    random_hyperplanes,
)
from commercepulse_data_pipeline_spark.sources import readers
from commercepulse_data_pipeline_spark.streaming import batches


def _read_or_create_planes(
    spark: SparkSession, store_dir: str, dim: int, n_planes: int, seed: int
) -> list[list[float]]:
    planes_dir = f"{store_dir}/index/planes"
    # planes are created only when no plane file exists: re-seeding them
    # over a store that has some would bucket this batch under a
    # DIFFERENT hash family than the index
    if readers._data_files(readers.require_local_path(spark, planes_dir)):
        rows = spark.read.parquet(planes_dir).collect()
        return [list(r.plane) for r in sorted(rows, key=lambda r: r.plane_id)]
    planes = random_hyperplanes(dim, n_planes, seed)
    one_slice_df(
        spark,
        [(i, [float(v) for v in p]) for i, p in enumerate(planes)],
        "plane_id int, plane array<double>",
    ).write.mode("overwrite").parquet(planes_dir)
    return planes


def dedup_embeddings_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    tau: float = 0.95,
    n_planes: int = 8,
) -> None:
    """Process one micro-batch of (vec_id, embedding) rows: bucket,
    in-batch + cross-batch semantic dedup, append survivors + index."""
    spark = batch_df.sparkSession
    first = batch_df.select(F.size(F.col("embedding")).alias("d")).first()
    if first is None:
        return  # empty batch: nothing to write, planes can wait
    planes = _read_or_create_planes(spark, store_dir, int(first["d"]), n_planes, 42)

    # bucket ONCE (eager checkpoint): consumed by within-batch pairs, the
    # probe keys, the cross-batch join, and both writes
    b = batch_df.withColumn(
        "lsh_bucket", F.conv(lsh_bucket(F.col("embedding"), planes), 2, 10).cast("long")
    ).localCheckpoint(eager=True)

    def cos(va, vb):
        denom = _norm(va) * _norm(vb)
        return F.when(denom > 0, _dot(va, vb) / denom)

    # within-batch: posting list per bucket, width-capped, lowest id wins
    pairs = _bucket_pairs(
        b.select("lsh_bucket", F.col("vec_id")), ["lsh_bucket"], F.col("vec_id"), 1000
    ).distinct()
    va = b.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    vb = b.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    within = (
        pairs.join(va, "id_a").join(vb, "id_b")
        .where(cos(F.col("__va"), F.col("__vb")) >= tau)
        .select(F.col("id_b").alias("vec_id"))  # id_a < id_b: keep-first
    )
    drop = within

    lists_root = f"{store_dir}/index/lists"
    idx = batches.prior(spark, lists_root, batch_id)
    if idx is not None:
        def side(df, name, vec):
            return df.select(
                F.col("vec_id").alias(f"__{name}_id"),
                F.col("embedding").alias(vec),
                "lsh_bucket",
            )

        arriving = (
            _probe_pairs(
                side(b, "new", "__vb"), side(idx, "old", "__va"), ["lsh_bucket"], 1000
            )
            .where(cos(F.col("__va"), F.col("__vb")) >= tau)
            .select(F.col("__new_id").alias("vec_id"))
        )
        drop = drop.union(arriving)

    kept = b.join(drop.distinct(), "vec_id", "left_anti")
    batches.write(kept.drop("lsh_bucket"), f"{store_dir}/vectors", batch_id)
    batches.write(kept, lists_root, batch_id, "lsh_bucket")
