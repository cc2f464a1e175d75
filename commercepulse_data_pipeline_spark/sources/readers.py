"""Bronze-layer ingestion (reference §2.1 S1/S2, §2.2 K1 semantics).

The reference lands raw events in MongoDB with an upsert-by-event_id
unique index (src/bootstrap_loader.py:19,92-105). Our bronze layer is
Parquet partitioned by ingest date: JSON/JSONL in → event envelope out,
``payload`` kept as a raw JSON string (drift-proof — no schema lock-in at
ingestion, SURVEY §1.3), idempotency via dropDuplicates(event_id).

Scale: file listing + schema are per-day partitions; bad records are
retained and *counted*, never silently dropped (reference S2 counts skips,
src/live_event_loader.py:32-48).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from commercepulse_data_pipeline_spark.functions.drift import coalesce_keys
from commercepulse_data_pipeline_spark.functions.hashing import event_id as _event_id
from commercepulse_data_pipeline_spark.sources import commit

ENVELOPE_FIELDS = ("event_id", "event_type", "event_time", "vendor", "payload", "ingested_at", "source")

# Raw-string envelope schema: payload deliberately StringType (schema drift
# is a designed-in property of the stream, FIXTURES §1-2).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_time", T.StringType()),
        T.StructField("vendor", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("ingested_at", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

# Candidate key lists from the reference's envelope synthesis
# (src/bootstrap_loader.py:32-43 natural key, :46-53 event time, :56-60 vendor).
# The natural-key map is PER EVENT TYPE (reference key_map,
# src/bootstrap_loader.py:32-37): a historical_payment record containing
# both order_id and payment_id keys hashes on payment_id — a flat global
# priority list would pick order_id and produce a different event_id.
NATURAL_KEY_MAP = {
    "historical_order": ("order_id", "id"),
    "historical_payment": ("payment_id", "id", "transaction_id"),
    "historical_shipment": ("shipment_id", "id", "tracking_id"),
    "historical_refund": ("refund_id", "id"),
}
NATURAL_KEY_CANDIDATES = ("order_id", "payment_id", "refund_id", "id", "transaction_id", "tracking_id")
EVENT_TIME_CANDIDATES = ("created_at", "order_date", "payment_date", "shipped_at", "refund_date", "timestamp", "date")
VENDOR_CANDIDATES = ("vendor_id", "vendor", "seller_id", "merchant_id")


def read_jsonl_events(spark: SparkSession, path: str) -> DataFrame:
    """JSONL event scan with bad-record retention (reference S2).

    PERMISSIVE mode parks unparseable lines in ``_corrupt_record``;
    ``skipped`` below means rows the reference would have dropped
    (decode failure OR missing event_id, src/live_event_loader.py:38-46).
    """
    raw = (
        spark.read.schema(ENVELOPE_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return (
        raw.withColumn("ingested_at", F.coalesce("ingested_at", F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")))
        .withColumn("source", F.coalesce("source", F.lit("live_stream")))
        .withColumn("skipped", F.col("_corrupt_record").isNotNull() | F.col("event_id").isNull())
    )


def skip_count(events: DataFrame) -> int:
    """How many raw lines would the reference's loader have skipped."""
    return events.where(F.col("skipped")).count()


def valid_events(events: DataFrame) -> DataFrame:
    return events.where(~F.col("skipped")).select(*ENVELOPE_FIELDS)


def read_historical_json(
    spark: SparkSession, path: str, event_type: str
) -> DataFrame:
    """Historical JSON-array bootstrap (reference S1,
    src/bootstrap_loader.py:84-99): whole-file JSON arrays of flat records
    → synthesized envelope (natural key, event time, vendor extraction +
    deterministic SHA-256 event_id)."""
    raw = spark.read.option("multiLine", True).json(path)
    cols = set(raw.columns)
    def candidates(names):
        return [F.col(n).cast("string") for n in names if n in cols] or [F.lit(None).cast("string")]
    key_names = NATURAL_KEY_MAP.get(event_type, NATURAL_KEY_CANDIDATES)
    natural_key = coalesce_keys(candidates(key_names), skip_falsy=True)
    evt_time = coalesce_keys(candidates(EVENT_TIME_CANDIDATES), skip_falsy=True)
    vendor = F.coalesce(coalesce_keys(candidates(VENDOR_CANDIDATES), skip_falsy=True), F.lit("unknown"))
    # payload = the whole record re-serialized as canonical JSON
    payload = F.to_json(F.struct(*[F.col(c) for c in sorted(raw.columns)]))
    natural_or_hash = F.coalesce(natural_key, F.md5(payload))
    return raw.select(
        _event_id(F.lit(event_type), natural_or_hash).alias("event_id"),
        F.lit(event_type).alias("event_type"),
        evt_time.alias("event_time"),
        vendor.alias("vendor"),
        payload.alias("payload"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ingested_at"),
        F.lit("historical_bootstrap").alias("source"),
    )


def write_bronze(events: DataFrame, path: str, mode: str = "append") -> None:
    """Bronze sink: parquet partitioned by ingest date (partition pruning
    replaces the reference's directory-per-date layout, §4)."""
    (
        events.withColumn("ingest_date", F.to_date(F.substring("ingested_at", 1, 10)))
        .write.mode(mode)
        .partitionBy("ingest_date")
        .parquet(path)
    )


def read_bronze(
    spark: SparkSession,
    path: str,
    *,
    merge_schema: bool = False,
) -> DataFrame:
    """Bronze scan with predicate pushdown (reference S3: Mongo
    ``find({event_type: {$in: ...}})`` — Catalyst pushes the isin filter
    into the parquet scan) and storage-level idempotency on read.

    ``merge_schema=True`` handles PARQUET-level schema evolution: without
    it Spark infers the store schema from a sampled footer, so a column a
    vendor added mid-history silently disappears (or appears) depending
    on which file got sampled. It costs a footer read per file at plan
    time — at many-file scale, prefer declaring the superset schema
    explicitly (``spark.read.schema(...)``) or registering the store as a
    table; this flag is the ad-hoc-exploration escape hatch. (VALUE-level
    drift — renamed/retyped fields inside the payload — is
    ``functions/drift.py``'s job, not the reader's.)"""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(path)
    return df.dropDuplicates(["event_id"])


def read_fx_rates(spark: SparkSession, path: str) -> DataFrame:
    """FX-rate CSV scan (reference S4 — shipped but never read by the
    reference, SURVEY Q7; our currency-normalization fix uses it)."""
    return (
        spark.read.option("header", True).csv(path)
        .select(F.to_date("date").alias("fx_date"), F.col("USDNGN").cast("double").alias("usd_ngn"))
    )


def _staged(path: str, kind: str) -> commit.Table:
    p = path.rstrip("/")
    return (p, f"{p}._{kind}_tmp", f"{p}._{kind}_old")


def _recover(path: str) -> None:
    # either rewrite kind may have stranded the dataset at its old dir
    for kind in ("compact", "purge"):
        commit.recover_swap([_staged(path, kind)])


def _data_files(path: str, pattern: str = "*") -> list[str]:
    import glob as _glob

    return [
        f
        for f in _glob.glob(os.path.join(path, "**", pattern), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]


def _rewrite_layout(spark: SparkSession, path: str, target_file_mb: int, write) -> dict:
    """The shared body of the layout rewrites: recover a stranded earlier
    rewrite, size the dataset from its file listing (no scan), let
    ``write(df, n_out, files, tmp)`` write ``ceil(bytes / target)`` files
    to the tmp sibling, swap it in (:func:`commit.swap` — each rename is
    atomic, the pair is not: a crash between them strands the dataset at
    ``<path>._compact_old`` until the next rewrite adopts it back), and
    recount. Local filesystem only."""
    import math

    _recover(path)
    files = _data_files(path)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    table = _staged(path, "compact")
    write(spark.read.parquet(path), n_out, files, table[1])
    commit.swap([table])
    return {
        "files_before": len(files),
        "files_after": len(_data_files(path, "*.parquet")),
        "bytes": total,
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 128,
    partition_col: str | None = None,
) -> dict:
    """Small-files compaction: rewrite a parquet dataset so each output
    file is ~``target_file_mb``. Streaming ingest (one file per
    micro-batch per task) and fine-grained partitioning both breed
    thousands of KB-sized files; at 100 TB the scan's file-open/footer
    overhead and the driver's listing/memory cost dominate long before
    the bytes do. The reference never needs this (pandas, single file) —
    any production lakehouse does.

    Mechanics: size the dataset from the file listing (cheap, no scan),
    rewrite with ``ceil(bytes / target)`` output files. Unpartitioned:
    ``repartition(n)`` (round-robin, even sizes). With ``partition_col``:
    hashing on the partition column alone would collapse every hive
    partition to ONE file written by one task — a multi-GB partition
    becomes a straggler/OOM-prone write — so rows are salted WITHIN each
    hive partition: the salt width per partition is derived from that
    partition's input bytes (read off the hive directory listing), and
    ``repartition(n, col, pmod(hash(id), width))`` + ``partitionBy(col)``
    gives each partition ``ceil(its bytes / target)`` write tasks while
    partition pruning survives. If the input isn't hive-laid-out yet
    (first compaction), widths fall back to a uniform
    ``ceil(n_out / n_partitions)``. The rewrite is swapped in by
    :func:`_rewrite_layout`.

    Returns {"files_before", "files_after", "bytes"} for ops logging.
    """
    import math
    import urllib.parse as _uparse

    target_bytes = target_file_mb * 1024 * 1024

    def write(df, n_out, files, tmp):
        if not partition_col:
            df.repartition(n_out).write.mode("overwrite").parquet(tmp)
            return
        # Per-partition salt widths from the hive listing (no extra scan).
        part_bytes: dict[str, int] = {}
        hive = True
        prefix = partition_col + "="
        for f in files:
            seg = next((s for s in f.split(os.sep) if s.startswith(prefix)), None)
            if seg is None:
                hive = False
                break
            val = _uparse.unquote(seg[len(prefix):])
            part_bytes[val] = part_bytes.get(val, 0) + os.path.getsize(f)
        if hive and part_bytes and len(part_bytes) <= 10_000:
            widths = {v: max(1, math.ceil(b / target_bytes)) for v, b in part_bytes.items()}
            width_map = F.create_map(
                *[x for v, w in widths.items() for x in (F.lit(v), F.lit(w))]
            )
            width = F.coalesce(
                width_map[F.col(partition_col).cast("string")], F.lit(1)
            )
            n_tasks = max(n_out, sum(widths.values()))
        else:
            n_parts = max(1, df.select(partition_col).distinct().count())
            width = F.lit(max(1, math.ceil(n_out / n_parts)))
            n_tasks = n_out
        # Deterministic content-derived salt: a nondeterministic salt
        # (e.g. hash(monotonically_increasing_id)) re-routes rows to
        # DIFFERENT reducers when a map task re-executes under stage retry
        # or speculation, duplicating/dropping rows (the SPARK-23207
        # failure class). Hashing row content keeps re-executions
        # byte-identical. Map columns are not hashable — excluded; a table
        # of ONLY maps degrades to an unsalted (still correct) write.
        hashable = [F.col(c) for c, t in df.dtypes if not t.startswith("map<")]
        salt = F.pmod(F.hash(*hashable) if hashable else F.lit(0), width)
        (
            df.repartition(n_tasks, F.col(partition_col), salt)
            .write.partitionBy(partition_col)
            .mode("overwrite")
            .parquet(tmp)
        )

    return _rewrite_layout(spark, path, target_file_mb, write)


def local_path(spark: SparkSession, root: str) -> str | None:
    """The driver-local path of ``root``, or None when it names another
    filesystem — the one rule every store reader resolves a root with.
    ``file:/p``, ``file:///p`` and ``file://localhost/p`` are ``/p``;
    ``s3a://b/k`` and ``hdfs://nn/p`` are not local. A bare path resolves
    against ``fs.defaultFS`` as Spark would resolve it, so it is local
    only when that filesystem is: on an HDFS/S3A deployment a same-named
    local directory must not shadow the cluster copy. A ``file:`` URI
    never touches the session."""
    u = urlparse(root)
    if u.scheme:
        return u.path if u.scheme == "file" and u.netloc in ("", "localhost") else None
    default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    return root if default_fs.startswith("file:") else None


def require_local_path(spark: SparkSession, root: str) -> str:
    """:func:`local_path` of a root that must be local: a store the fold
    lists and renames with local file I/O. Any other root raises, since
    reading it without its intent record would silently miss or
    double-count the partitions a fold is moving (ADVICE r9)."""
    local = local_path(spark, root)
    if local is None:
        raise ValueError(
            f"{root!r} is not on the driver's filesystem, and batch-partitioned "
            f"stores are local-filesystem-only (the fold's intent record is "
            f"read with local file I/O). Use spark.read.parquet directly (NO "
            f"fold consistency) or a snapshot-isolated table format for "
            f"non-local stores."
        )
    return os.path.abspath(local)


def store_partitions(spark: SparkSession, root: str) -> dict[int, str]:
    """The fold-consistent ``{ingest_batch value: directory}`` of the
    local batch-partitioned store at ``root``, the only listing of such a
    store in the package. With no intent record it is every
    ``ingest_batch=N`` directory. While :func:`compact_streaming_index`'s
    record (``<root>/_SWAP.json``) is present it is the post-fold store:
    each replaced partition (the consolidated one) from its tmp while the
    tmp exists and from its live directory after, without the dropped
    (folded) partitions. An empty dict means there is no store yet: the
    root is missing or holds only markers. The listing never mutates the
    store, so it answers the same at every resting point of a fold,
    before any recovery runs."""
    p = require_local_path(spark, root)
    prefix = commit.BATCH_COL + "="
    tables = commit.intent_tables(os.path.join(p, commit.INTENT)) or []
    moved = {live for live, _, _ in tables}
    entries = os.listdir(p) if os.path.isdir(p) else []
    # (live, directory to read) pairs: a replaced partition is read from its
    # tmp while the tmp exists; a dropped one (no tmp) is left out
    lives = [os.path.join(p, e) for e in entries if e.startswith(prefix)]
    dirs = [(d, d) for d in lives if d not in moved]
    dirs += [(live, tmp if os.path.isdir(tmp) else live) for live, tmp, _ in tables if tmp is not None]
    return dict(
        sorted((int(os.path.basename(live)[len(prefix):]), d) for live, d in dirs if os.path.isdir(d))
    )


def fold_consistent_read(spark: SparkSession, root: str) -> DataFrame:
    """The batch-partitioned store at ``root`` as :func:`store_partitions`
    lists it: before or after a fold, never a mix, at every resting point
    of :func:`compact_streaming_index`'s commit. A reader can probe
    concurrently with compaction, or after a mid-fold crash before any
    recovery runs; this function never mutates the store.

    With no intent record the store is at rest and this is a plain
    partitioned read of ``root``, so partition filters on its inner
    columns (``term_bucket``, ``lsh_bucket``) still prune directories.
    While a record is present a plain read could miss the consolidated
    partition (between its rename aside and its tmp's rename in) or count
    a folded partition AND the new consolidated one. The view then reads
    the listing: the partitions still at their live directories through
    one root read restricted to their values, and each partition read
    from its tmp as one more branch.

    Guarantee scope: any RESTING state (crash-consistent). Against a
    compactor advancing concurrently mid-call, a rename can still win the
    race with the file listing — retry on FileNotFound, as with any
    concurrently-rewritten path.

    Local only, like the listing: another root raises ``ValueError``
    (:func:`require_local_path`)."""
    from functools import reduce

    p = require_local_path(spark, root)
    if commit.intent_tables(os.path.join(p, commit.INTENT)) is None:
        return spark.read.parquet(root)
    prefix = commit.BATCH_COL + "="
    parts = store_partitions(spark, root)
    in_place = [v for v, d in parts.items() if d == os.path.join(p, f"{prefix}{v}")]
    frames = [
        spark.read.parquet(f"file://{d}").withColumn(commit.BATCH_COL, F.lit(v).cast("int"))
        for v, d in parts.items()
        if v not in in_place
    ]
    if in_place:
        frames.insert(0, spark.read.parquet(root).where(F.col(commit.BATCH_COL).isin(in_place)))
    return reduce(DataFrame.unionByName, frames)


def _fold_table(p: str, name: str, *, drop: bool = False) -> commit.Table:
    # hidden siblings inside the root: partition discovery skips names
    # starting with "."
    hidden = f"{p}/.{name}"
    return (f"{p}/{name}", None if drop else hidden + ".tmp", hidden + ".old")


def compact_streaming_index(
    spark: SparkSession,
    root: str,
    *,
    keep_latest: int = 2,
    target_file_mb: int = 128,
    sub_partition_col: str | None = None,
) -> dict:
    """Retention/compaction for append-mode streaming index stores
    (``streaming/corpus.py`` bands, ``streaming/embeddings.py`` lists,
    ``streaming/retrieval.py`` stats and postings):
    every micro-batch appends its own ``ingest_batch=N`` partition, so a
    long-lived stream grows one small directory per batch with no bound.
    This folds all but the ``keep_latest`` newest batch partitions into a
    single consolidated partition (``ingest_batch=-1``, a value no real
    batch id takes), rewritten at ~``target_file_mb`` per file.

    Replay safety: the foreachBatch sinks probe the index through
    ``streaming.batches.prior``, which excludes ``ingest_batch ==
    batch_id``, and a checkpoint restart replays
    only the single uncommitted batch — so ``keep_latest >= 2`` guarantees
    a replayed batch's own partition is never folded out from under it.
    ``sub_partition_col`` preserves an inner layout (the embedding lists'
    ``lsh_bucket``, the text postings' ``term_bucket``) through the
    rewrite. Folding is row-preserving, so
    the keep-first and idempotent-upsert decisions the sinks make against
    the index do not change across a fold.

    Crash safety: the fold is one :func:`commit.swap`. The new
    consolidated partition is written to a hidden tmp inside the root
    and is a replaced table; each folded partition is a dropped table.
    The intent record (``<root>/_SWAP.json``) is written before any
    rename, and the next call's :func:`commit.recover_swap` rolls an
    interrupted fold forward past it or discards the tmp before it.
    Readers racing the swap can see folded rows twice through a plain
    read; every reader of these stores lists them through
    :func:`store_partitions` (or reads through
    :func:`fold_consistent_read`), which closes that window; a
    transactional table format is the cluster-grade answer. The partition
    list comes from the same listing, after recovery.

    Returns {"folded", "partitions_after", "files_after"}.
    """
    import math

    p = require_local_path(spark, root)
    prefix = commit.BATCH_COL + "="
    cons = _fold_table(p, f"{prefix}{commit.CONSOLIDATED_BATCH}")
    intent = os.path.join(p, commit.INTENT)
    commit.recover_swap([cons], intent=intent)
    parts = store_partitions(spark, root)
    real = [v for v in parts if v != commit.CONSOLIDATED_BATCH]
    fold = real[: len(real) - keep_latest] if keep_latest else real
    if not fold:
        return {"folded": 0, "partitions_after": len(parts), "files_after": None}
    fold_vals = fold + ([commit.CONSOLIDATED_BATCH] if commit.CONSOLIDATED_BATCH in parts else [])

    fold_bytes = sum(os.path.getsize(f) for v in fold_vals for f in _data_files(parts[v]))
    n_out = max(1, math.ceil(fold_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(root).where(F.col(commit.BATCH_COL).isin(fold_vals)).drop(commit.BATCH_COL)
    if sub_partition_col:
        writer = df.repartition(n_out, sub_partition_col).write.partitionBy(sub_partition_col)
    else:
        writer = df.repartition(n_out).write
    writer.mode("overwrite").parquet(f"file://{cons[1]}")
    commit.swap([cons] + [_fold_table(p, f"{prefix}{v}", drop=True) for v in fold], intent=intent)
    return {
        "folded": len(fold),
        "partitions_after": len(parts) - len(fold_vals) + 1,
        "files_after": len(_data_files(p)),
    }


def purge_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys: list | DataFrame,
    *,
    partition_col: str | None = None,
) -> dict:
    """Right-to-erasure propagation: remove every row whose ``key_col``
    is in ``keys`` from a parquet dataset, atomically (same rename-swap
    as :func:`compact_parquet`). Run it per table to propagate a deletion
    request through bronze/silver/gold — the reference's truncate-and-
    reload has no targeted-delete story at all.

    ``keys`` may be a Python list (small requests) or a DataFrame with a
    ``key_col`` column (bulk requests); either way the purge is one
    broadcast LEFT-ANTI join — the dataset shuffles nothing and is read
    once for the rewrite. Returns {"rows_before", "rows_removed"} (the
    counts cost one extra scan; erasure jobs audit their work).

    Keys that fail the cast to the dataset's key type raise ValueError
    up front: a cast-to-NULL key would silently match nothing in the
    anti-join, so a mistyped right-to-erasure request would report
    ``rows_removed=0`` instead of erroring — unacceptable for a
    compliance tool. (The validation job runs over the keys only —
    bounded-small by construction.)
    """
    _recover(path)
    df = spark.read.parquet(path)
    key_type = df.schema[key_col].dataType
    # try_cast, not cast: under ANSI mode a malformed key would throw an
    # opaque NumberFormatException mid-job; under legacy mode it would
    # silently become NULL and match nothing. try_cast pins the
    # NULL-on-failure behavior so the validation below raises ONE clean
    # ValueError naming the offending keys in both modes.
    if isinstance(keys, DataFrame):
        typed = keys.select(
            F.col(key_col).cast("string").alias("__raw"),
            F.col(key_col).try_cast(key_type).alias(key_col),
        )
    else:
        # accept heterogeneous callers (CLI strings, Python ints) by
        # round-tripping through string → the dataset's key type
        typed = spark.createDataFrame(
            [(str(k),) for k in keys], "__raw string"
        ).select("__raw", F.col("__raw").try_cast(key_type).alias(key_col))
    bad = [
        r["__raw"]
        for r in typed.where(
            F.col(key_col).isNull() & F.col("__raw").isNotNull()
        ).select("__raw").limit(20).collect()
    ]
    if bad:
        raise ValueError(
            f"purge_keys: {len(bad)}+ deletion key(s) failed the cast to "
            f"{key_type.simpleString()} and would silently match nothing: {bad}"
        )
    keys_df = typed.select(key_col).dropDuplicates([key_col])
    kept = df.join(F.broadcast(keys_df), on=key_col, how="left_anti")
    before = df.count()
    table = _staged(path, "purge")
    writer = kept.write.partitionBy(partition_col) if partition_col else kept.write
    writer.mode("overwrite").parquet(table[1])
    commit.swap([table])
    after = spark.read.parquet(path).count()
    return {"rows_before": before, "rows_removed": before - after}
