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
    _pairs_in_group,
    capped_posting_lists,
)
from commercepulse_data_pipeline_spark.operators.similarity import (
    _dot,
    _norm,
    lsh_bucket,
    random_hyperplanes,
)
from commercepulse_data_pipeline_spark.streaming import batches


def _read_or_create_planes(
    spark: SparkSession, store_dir: str, dim: int, n_planes: int, seed: int
) -> list[list[float]]:
    from commercepulse_data_pipeline_spark.sources.readers import (
        is_missing_store_error,
    )

    try:
        rows = spark.read.parquet(f"{store_dir}/index/planes").collect()
        return [list(r.plane) for r in sorted(rows, key=lambda r: r.plane_id)]
    except Exception as exc:  # noqa: BLE001 — filtered just below
        if not is_missing_store_error(exc, f"{store_dir}/index/planes"):
            # re-seeding planes on a transient read error would bucket
            # this batch under a DIFFERENT hash family than the store
            raise
        planes = random_hyperplanes(dim, n_planes, seed)
        one_slice_df(
            spark,
            [(i, [float(v) for v in p]) for i, p in enumerate(planes)],
            "plane_id int, plane array<double>",
        ).write.mode("overwrite").parquet(f"{store_dir}/index/planes")
        return planes


def dedup_embeddings_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    tau: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    max_bucket: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Process one micro-batch of (vec_id, embedding) rows: bucket,
    in-batch + cross-batch semantic dedup, append survivors + index."""
    spark = batch_df.sparkSession
    first = batch_df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        return  # empty batch: nothing to write, planes can wait
    planes = _read_or_create_planes(spark, store_dir, int(first["d"]), n_planes, seed)

    # bucket ONCE (eager checkpoint): consumed by within-batch pairs, the
    # probe keys, the cross-batch join, and both writes
    b = batch_df.withColumn(
        "lsh_bucket", F.conv(lsh_bucket(F.col(vec_col), planes), 2, 10).cast("long")
    ).localCheckpoint(eager=True)

    def cos(va, vb):
        denom = _norm(va) * _norm(vb)
        return F.when(denom > 0, _dot(va, vb) / denom)

    # within-batch: posting list per bucket, width-capped, lowest id wins
    posting = capped_posting_lists(
        b.select("lsh_bucket", F.col(id_col)), ["lsh_bucket"], F.col(id_col),
        max_bucket=max_bucket,
    )
    pairs = (
        posting.select(F.explode_outer(_pairs_in_group(F.col("__ids"))).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    va = b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    within = (
        pairs.join(va, "id_a").join(vb, "id_b")
        .where(cos(F.col("__va"), F.col("__vb")) >= tau)
        .select(F.col("id_b").alias(id_col))  # id_a < id_b: keep-first
    )
    drop = within

    lists_root = f"{store_dir}/index/lists"
    idx = batches.prior(spark, lists_root, batch_id)
    if idx is not None:
        probe = F.broadcast(b.select("lsh_bucket").distinct())
        cand = idx.join(probe, "lsh_bucket", "left_semi")
        from pyspark.sql import Window

        w = Window.partitionBy("lsh_bucket")
        cand = (
            cand.withColumn("__bn", F.count(F.lit(1)).over(w))
            .where(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
        arriving = (
            cand.select(
                F.col(id_col).alias("__old_id"),
                F.col(vec_col).alias("__va"),
                "lsh_bucket",
            )
            .join(
                b.select(
                    F.col(id_col).alias("__new_id"),
                    F.col(vec_col).alias("__vb"),
                    "lsh_bucket",
                ),
                "lsh_bucket",
            )
            .where(
                (F.col("__old_id") != F.col("__new_id"))
                & (cos(F.col("__va"), F.col("__vb")) >= tau)
            )
            .select(F.col("__new_id").alias(id_col))
        )
        drop = drop.union(arriving)

    kept = b.join(drop.distinct(), id_col, "left_anti")
    batches.write(kept.drop("lsh_bucket"), f"{store_dir}/vectors", batch_id)
    batches.write(kept, lists_root, batch_id, "lsh_bucket")
