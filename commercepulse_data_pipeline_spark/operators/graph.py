"""Connected components over a pair graph — the clustering step that turns
near-dup CANDIDATE PAIRS (MinHash/SimHash/Jaccard output) into dedup
CLUSTERS with a canonical representative per cluster. Extension tier: the
reference stops at pair lists; a training-data pipeline needs "keep one doc
per near-dup cluster", which is exactly min-id connected components.

Algorithm: hash-to-min label propagation (Rastogi et al., "Finding
Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13 family)
expressed as iterative DataFrame joins:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until a fixpoint. Convergence is O(graph diameter) rounds — for
near-dup graphs (dense clique-ish clusters from banding) the diameter is
tiny (2-4), so this beats the O(log n) large-star/small-star variant in
practice while keeping every round a plain shuffle-on-key join + groupBy
min. The loop runs at most ``MAX_ROUNDS`` rounds and raises past that.

100 TB posture per round: one shuffle to join labels onto edges, one
aggregation for neighbor-min, one join to merge — all keyed on node id
(uniform if ids are). Lineage is truncated each round so the plan doesn't
grow exponentially with iterations; every cut goes through
``functions.pins.pin``, so ``set_pin_policy`` is the one switch between
``localCheckpoint`` and a reliable checkpoint. The driver holds ONE scalar
per round (the changed count, needed for the fixpoint test) — no data ever
collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df
from commercepulse_data_pipeline_spark.functions.pins import pin

# hash-to-min loop rounds after the fused first one: graphs of diameter
# up to this converge, larger ones make connected_components raise
MAX_ROUNDS = 25


def connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """(node, component) for every node in ``edges``; ``component`` is the
    minimum node id reachable from the node. The fused round-0 init
    propagates one hop and every loop round one more, and the last round
    only confirms the fixpoint, so a graph converges when its diameter is
    at most ``MAX_ROUNDS``; past that this raises."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    sym = pin(sym)

    # Round 0 fused into initialization (r15 optimization pass): the first
    # hash-to-min round over identity labels computes exactly
    # label(u) = min(u, min(N(u))), which needs no label join at all —
    # one groupBy over the symmetric edge list replaces the old
    # distinct-nodes init PLUS the whole first loop round (one fewer
    # join+groupBy+join round trip; min-label propagation is monotone, so
    # starting from this partially-propagated state reaches the identical
    # unique fixpoint: label(v) = min id reachable from v).
    labels = pin(
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("__mn"))
        .select("node", F.least(F.col("node"), F.col("__mn")).alias("label"))
    )

    for _ in range(MAX_ROUNDS):
        nbr_min = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        merged = (
            labels.join(nbr_min, labels["node"] == nbr_min["u"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.col("label") != F.least(F.col("label"), F.coalesce("nbr_label", "label")))
                .cast("long")
                .alias("__changed"),
            )
        )
        # lazy: the fixpoint test's aggregation is the FIRST action over
        # each round's labels, so it both materializes the pin and reads
        # the changed count in ONE job (r15: the eager form paid a
        # separate materialization job per round). A reliable pin policy
        # checkpoints eagerly regardless.
        merged = pin(merged, eager=False)
        changed = merged.agg(F.sum("__changed")).head()[0] or 0
        labels = merged.drop("__changed")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ROUNDS} rounds — "
        "the graph's diameter exceeds the round budget"
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Dedup RETENTION POLICY: per near-dup cluster keep the
    highest-scoring member (ties → lowest id), the decision a training
    pipeline actually applies after clustering — "drop duplicates, keep
    the best-quality copy", not "keep an arbitrary one".

    ``clusters`` is ``dedup_clusters`` output; ``scores`` maps id → score
    (e.g. ``text.quality_score``). One shuffle on the cluster id for the
    rank window; the scores join is id-keyed (bucket both by id at scale
    and it co-locates). Returns one row per cluster:
    (cluster_id, kept_doc_id, score, cluster_size, n_dropped)."""
    from pyspark.sql import Window

    j = clusters.join(scores.select(F.col(id_col), F.col(score_col)), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("kept_doc_id"),
            F.col(score_col).alias("kept_score"),
            "cluster_size",
            (F.col("cluster_size") - 1).alias("n_dropped"),
        )
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup clusters from a candidate-pair list: one row per clustered
    doc with its canonical (min-id) representative and the cluster size —
    the "keep canonical, drop the rest" dedup decision table."""
    cc = connected_components(pairs, id_a, id_b)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
        )
    )


def cluster_size_histogram(
    clusters: DataFrame,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Dedup savings report: how much of the corpus sits in near-dup
    clusters of each size — one row per ``cluster_size`` with
    ``n_clusters`` and ``n_docs`` (keeping one canonical per cluster
    drops ``n_docs - n_clusters`` docs, the number this table exists to
    publish). Pass ``corpus`` to also count UNclustered docs as size-1
    singletons, so ``sum(n_docs)`` equals the whole corpus; both sides
    key on ``doc_id``.

    Scale shape: the cluster table reduces to one row per ``cluster_id``
    first (map-side-combinable distinct on (cluster_id, cluster_size) —
    the pair is functionally dependent, so which duplicate survives is
    immaterial), then a cluster_size-keyed aggregate: kilobytes out
    regardless of corpus size. The optional singleton row is ONE
    left-anti count aggregate — no collect, no driver state."""
    per_cluster = clusters.select("cluster_id", "cluster_size").dropDuplicates(
        ["cluster_id"]
    )
    hist = per_cluster.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )
    if corpus is not None:
        singles = (
            corpus.select("doc_id")
            .join(clusters.select("doc_id"), "doc_id", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .where(F.col("n_clusters") > 0)
            .select(
                F.lit(1).cast("long").alias("cluster_size"),
                "n_clusters",
                F.col("n_clusters").alias("n_docs"),
            )
        )
        hist = hist.unionByName(singles)
    return hist.orderBy("cluster_size")


# ---------------------------------------------------------------------------
# Persisted cluster-table artifact (VERDICT r12 item 3)
# ---------------------------------------------------------------------------
# The dedup REPORT consumers — cluster_size_histogram, keep_best_per_cluster,
# quarantine complements, pair-confirm joins — all consume the same
# (doc_id, cluster_id, cluster_size) table, and each re-deriving it means
# re-running MinHash banding + iterative connected components per report. At
# 100 TB that is the dominant cost repeated N times. The artifact pair below
# makes the "compute once, publish, fan out readers" pattern durable, the
# same shape the MinHash/ANN indexes already use (dedup.py::
# write_minhash_index): parquet rows + a JSON meta sidecar pinning
# provenance, so a reader can refuse a table whose lineage it doesn't
# expect. Self-contained driver queries keep their from-scratch form; the
# clean-corpus CLI's localCheckpoint hoist (r12) is the in-session twin of
# this on-disk artifact.

_CLUSTER_TABLE_COLS = ("doc_id", "cluster_id", "cluster_size")


def write_cluster_table(
    clusters: DataFrame,
    path: str,
    *,
    provenance: dict | None = None,
) -> None:
    """Materialize a ``dedup_clusters`` result as the corpus's CLUSTER
    TABLE artifact: ``path/clusters`` parquet with the pinned
    (doc_id, cluster_id, cluster_size) schema plus a ``path/meta`` JSON
    sidecar carrying caller-supplied ``provenance`` (banding parameters,
    source snapshot id, CC algorithm — whatever the reader needs to
    decide the table is the one it wants). Readers get ONE materialized
    CC run; nothing re-derives the pair graph.

    The write repartitions by ``cluster_id`` so each cluster's members
    are co-located on disk: per-cluster consumers (keep-best windows,
    histogram reduces) then shuffle rows that are already
    partition-local. Cluster tables are small relative to the corpus
    (clustered docs only), so file count follows the session's shuffle
    parallelism."""
    import json

    missing = [c for c in _CLUSTER_TABLE_COLS if c not in clusters.columns]
    if missing:
        raise ValueError(
            f"cluster table missing columns {missing}; expected "
            f"{_CLUSTER_TABLE_COLS} (dedup_clusters output)"
        )
    spark = clusters.sparkSession
    (
        clusters.select(*_CLUSTER_TABLE_COLS)
        .repartition("cluster_id")
        .write.mode("overwrite")
        .parquet(f"{path}/clusters")
    )
    meta = {"schema": list(_CLUSTER_TABLE_COLS), "provenance": provenance or {}}
    one_slice_df(spark, [(json.dumps(meta),)], "meta string").write.mode(
        "overwrite"
    ).json(f"{path}/meta")


def read_cluster_table(spark, path: str) -> DataFrame:
    """Read a ``write_cluster_table`` artifact back as a DataFrame with
    the pinned schema — the input every cluster consumer
    (``cluster_size_histogram``, ``keep_best_per_cluster``, left-anti
    survivor complements, ``similarity.score_pairs`` confirm joins)
    accepts directly. Raises if the artifact's pinned schema is not the
    expected one (a foreign parquet directory is not a cluster table)."""
    import json

    row = spark.read.schema("meta string").json(f"{path}/meta").head()
    meta = json.loads(row.meta)
    if list(meta.get("schema", [])) != list(_CLUSTER_TABLE_COLS):
        raise ValueError(
            f"{path} is not a cluster-table artifact: meta schema "
            f"{meta.get('schema')} != {_CLUSTER_TABLE_COLS}"
        )
    return spark.read.parquet(f"{path}/clusters").select(*_CLUSTER_TABLE_COLS)


def read_cluster_table_meta(spark, path: str) -> dict:
    """The artifact's provenance dict (empty if the writer passed none)."""
    import json

    row = spark.read.schema("meta string").json(f"{path}/meta").head()
    return dict(json.loads(row.meta).get("provenance", {}))


def dedup_savings_by_source(
    clusters: DataFrame,
    corpus: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Per-source dedup savings: for each ``group_col`` value, how many
    docs sit in near-dup clusters and how many the min-id keep policy
    would DROP — the report that tells a curation team which ingest
    source is feeding the corpus mirrors (one source with a high
    ``dup_frac`` usually means a crawler re-ingesting a site it already
    has). Attribution is by each doc's OWN source, so a cluster spanning
    sources charges each side for its own members; the canonical (the
    member whose id equals the cluster id under min-id convention) is
    never counted dropped.

    Output: one row per group — n_docs, n_clustered, n_dropped,
    dup_frac (= n_dropped / n_docs, 6dp). Consumes either a live
    ``dedup_clusters`` frame or :func:`read_cluster_table` — with the
    artifact, the report is ONE id-keyed left join plus a group-keyed
    aggregate (kilobytes out); the pair graph never re-derives. Both
    sides key on ``doc_id``."""
    m = clusters.select("doc_id", F.col("cluster_id").alias("__cid"))
    j = corpus.select(F.col(group_col), F.col("doc_id")).join(m, "doc_id", "left")
    dropped = F.col("__cid").isNotNull() & (F.col("__cid") != F.col("doc_id"))
    n_docs = F.count(F.lit(1))
    n_dropped = F.sum(dropped.cast("long"))
    return (
        j.groupBy(group_col)
        .agg(
            n_docs.alias("n_docs"),
            F.sum(F.col("__cid").isNotNull().cast("long")).alias("n_clustered"),
            n_dropped.alias("n_dropped"),
        )
        .select(
            group_col,
            "n_docs",
            "n_clustered",
            "n_dropped",
            F.round(
                F.col("n_dropped").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


def merge_cluster_update(
    clusters: DataFrame,
    new_pairs: DataFrame,
) -> DataFrame:
    """Incremental cluster maintenance: fold a NEW batch's candidate
    pairs into an existing cluster table WITHOUT re-running connected
    components over the whole corpus — the operation that keeps a
    10B-doc cluster table alive under continuous ingest (a from-scratch
    CC per batch is the one cost that cannot amortize).

    Exactness: an old cluster's id IS one of its members (the min), so
    replacing its internal pair edges with star edges doc→cluster_id
    preserves both connectivity and the component minimum. CC over
    (star edges of AFFECTED clusters ∪ new pairs) therefore yields
    exactly the from-scratch labels for every touched component, and
    untouched rows pass through unchanged — the result is row-identical
    to ``dedup_clusters`` over the union of all pairs ever seen
    (property-tested).

    Scale shape: the new batch's endpoints are batch-sized; finding
    affected clusters is one id-keyed semi-join + one cluster-keyed
    semi-join; the iterative CC runs over the batch-proportional
    affected subgraph ONLY (star edges keep it shallow — old clusters
    contribute diameter ≤ 2). Untouched clusters are an anti-join
    passthrough that never enters the loop."""
    nodes = (
        new_pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(new_pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    affected_cids = (
        clusters.join(nodes, "doc_id", "left_semi").select("cluster_id").distinct()
    )
    affected = clusters.join(affected_cids, "cluster_id", "left_semi")
    edges = affected.select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("id_b")
    ).unionByName(new_pairs.select("id_a", "id_b"))
    merged = dedup_clusters(edges)
    untouched = clusters.join(affected_cids, "cluster_id", "left_anti")
    return untouched.select("doc_id", "cluster_id", "cluster_size").unionByName(
        merged
    )


def update_cluster_table(
    spark,
    path: str,
    new_pairs: DataFrame,
) -> DataFrame:
    """Artifact form of :func:`merge_cluster_update`: read the persisted
    cluster table, fold ``new_pairs`` in, swap the artifact's rows
    crash-safely, return the updated frame. The updated table is
    MATERIALIZED (eager pin) before anything moves — the
    read and the write target the same directory — and the swap is
    RENAME-aside (write to ``clusters.tmp``, rename live → ``.old``,
    rename ``.tmp`` → live; a stranded ``.old`` is adopted back on the
    next update), so a crash at any point leaves a readable table: the
    cron/stream-shaped ingest loop can die mid-update without losing
    the corpus's cluster state. The meta sidecar stays as it is."""
    from commercepulse_data_pipeline_spark.sources import commit

    # crash recovery: a prior update that died between its two swap
    # renames leaves the rows reachable only at clusters.old — adopt it
    # back before reading
    rows_dir = f"{path}/clusters"
    table = (rows_dir, rows_dir + ".tmp", rows_dir + ".old")
    commit.recover_swap([table], keep_old=True)
    cur = read_cluster_table(spark, path)
    upd = pin(merge_cluster_update(cur, new_pairs))
    # write against the OLD rows, then swap by rename-aside: a plain
    # mode("overwrite") on clusters/ deletes before it writes, so a crash
    # mid-write would leave NO live copy of the table (the next update
    # would misread the missing dir). With renames the rows are always
    # reachable at clusters/ or clusters.old; the pin above
    # pins the update's content before anything moves.
    (
        upd.select(*_CLUSTER_TABLE_COLS)
        .repartition("cluster_id")
        .write.mode("overwrite")
        .parquet(table[1])
    )
    # clusters.old is RETAINED until the next successful update: it is
    # the rollback copy if corruption is discovered after the swap, and
    # costs one table's worth of disk. Recovery only adopts it when
    # rows_dir itself is gone.
    commit.swap([table], keep_old=True)
    return upd
