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
    import os as _os

    return [
        f
        for f in _glob.glob(_os.path.join(path, "**", pattern), recursive=True)
        if _os.path.isfile(f) and not _os.path.basename(f).startswith(("_", "."))
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
    import os as _os

    _recover(path)
    files = _data_files(path)
    total = sum(_os.path.getsize(f) for f in files)
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
    import os as _os
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
            seg = next((s for s in f.split(_os.sep) if s.startswith(prefix)), None)
            if seg is None:
                hive = False
                break
            val = _uparse.unquote(seg[len(prefix):])
            part_bytes[val] = part_bytes.get(val, 0) + _os.path.getsize(f)
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


def is_missing_store_error(exc: BaseException, root: str | None = None) -> bool:
    """True iff ``exc`` means "this store path does not exist yet" — the
    ONLY condition a first-batch bootstrap probe may treat as an empty
    store. Everything else (permission errors, schema corruption,
    transient listing failures) returns False and must FAIL the batch so
    the engine retries it: swallowing a transient error as "first batch"
    would silently skip cross-batch dedup/state and persist wrong output
    (ADVICE r9). ``UNABLE_TO_INFER_SCHEMA`` counts as missing — it is
    what Spark raises for a created-but-never-written store directory.

    Pass ``root`` (the store path the failed read targeted) to also
    confirm ON THE FILESYSTEM that the store is genuinely absent/empty
    (ADVICE r10): a concurrent compactor's fold rename can surface these
    same error classes mid-read on a store that very much exists — in
    that case this returns False so the caller retries the batch instead
    of silently treating a compaction race as "first batch" and skipping
    cross-batch dedup. A root that exists counts as absent only when it
    holds nothing but marker entries (``_SUCCESS``, ``_FOLDED.json*``,
    …) — i.e. created-but-never-written.

    The filesystem confirmation is LOCAL-FILESYSTEM-ONLY (the same
    explicit contract as :func:`fold_consistent_read`): for a root with
    a non-file scheme (``s3a://``, ``hdfs://``, …) there is no driver-
    local listing to probe, so the probe is skipped and the error
    classification alone decides — i.e. remote stores get NO
    compaction-race protection from this function. Callers folding a
    remote store concurrently with readers must serialize externally
    (ADVICE r11)."""
    import os as _os

    def _classified_missing() -> bool:
        from pyspark.errors import AnalysisException

        if isinstance(exc, FileNotFoundError):
            return True
        if isinstance(exc, AnalysisException):
            ec = None
            # getErrorClass is deprecated in PySpark 4 (-> getCondition);
            # probe the new name first, fall back for older versions
            for probe in ("getCondition", "getErrorClass"):
                fn = getattr(exc, probe, None)
                if fn is None:
                    continue
                try:
                    ec = fn()
                except Exception:  # noqa: BLE001 — fall back to message probe
                    ec = None
                if ec is not None:
                    break
            if ec is not None:
                return ec in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
            msg = str(exc)
            return "PATH_NOT_FOUND" in msg or "Unable to infer schema" in msg
        return False

    if not _classified_missing():
        return False
    if root is None:
        return True
    path = commit.local_path(root)
    if path is None:
        # Non-local scheme: no driver-local listing exists, so the race
        # probe below would ALWAYS read "absent". Skip it explicitly and
        # let the error classification decide (documented local-only
        # contract above).
        return True
    if not _os.path.exists(path):
        return True
    try:
        entries = _os.listdir(path)
    except OSError:
        # can't confirm the store is empty -> not safely "missing"
        return False
    return all(e.startswith("_") for e in entries)


def fold_consistent_read(spark: SparkSession, root: str) -> DataFrame:
    """READ-SIDE contract for the streaming index stores: return a
    CONSISTENT view of the store at every resting point of the fold
    protocol, so a monitoring job can probe concurrently with compaction
    (and after a mid-fold crash, BEFORE any recovery runs — this function
    never mutates the store).

    The fold protocol (:func:`compact_streaming_index`) has two windows where a
    naive ``spark.read.parquet(root)`` reads a WRONG store:

    - pre-commit (old consolidated set aside, marker not yet written):
      the old consolidated's rows are invisible → under-count. This
      reader rolls BACK: root partitions + the set-aside consolidated.
    - post-commit (marker written; new consolidated possibly not yet
      renamed in, folded dirs possibly not yet deleted): folded partials
      and the new consolidated can coexist → double-count for
      count-summing stores (the passage fingerprint index). This reader
      rolls FORWARD:
      the new consolidated (from root, or from the tmp dir if the rename
      hasn't happened) + only the partitions NOT in the marker's folded
      list — exactly the post-fold store, which every compactor
      guarantees answers like the pre-fold one.

    With no fold in flight this is a plain partitioned read. Guarantee
    scope: any RESTING state (crash-consistent). Against a compactor
    advancing concurrently mid-call, a rename can still win the race
    with the file listing — retry on FileNotFound, as with any
    concurrently-rewritten path.

    LOCAL-ONLY by construction: marker/old-dir detection uses driver
    ``os.path``/``os.listdir``, matching the fold protocol itself (the
    compactors commit with driver-local renames). A non-file scheme
    (``hdfs://``, ``s3a://``) would silently degrade to a plain read —
    exactly the inconsistency window this reader exists to close — so it
    raises instead (ADVICE r9). Non-local stores need a compactor and a
    reader built on the same atomic-rename substrate (HDFS rename / a
    table format's snapshot isolation), not this marker protocol."""
    import os as _os

    if "://" in root:
        scheme = root.split("://", 1)[0]
        raise ValueError(
            f"fold_consistent_read is local-filesystem-only (the fold "
            f"marker protocol is driver-local rename/listdir); got "
            f"scheme {scheme!r} for {root!r}. Use spark.read.parquet "
            f"directly (NO fold consistency) or a snapshot-isolated table "
            f"format for non-local stores."
        )
    p = root.rstrip("/")
    old_root, tmp_root = p + "._fold_old", p + "._fold_tmp"
    cons_name = f"{commit.BATCH_COL}={commit.CONSOLIDATED_BATCH}"
    m = commit.read_marker(_os.path.join(old_root, "_FOLDED.json"))

    def _part_df(path: str, value: int) -> DataFrame:
        return spark.read.parquet(path).withColumn(
            commit.BATCH_COL, F.lit(value).cast("int")
        )

    prefix = commit.BATCH_COL + "="
    if m is not None:
        # post-commit: roll-forward view. TWO plan branches regardless of
        # how many batch partitions exist (a per-partition union would
        # make the plan grow with the store): the root read with the
        # folded values pruned out, plus the new consolidated from
        # wherever it currently lives.
        folded_vals = [
            int(name[len(prefix):])
            for name in m["folded"]
            if name != m["consolidated"]
        ]
        cons_at_root = _os.path.join(p, m["consolidated"])
        cons_path = (
            cons_at_root
            if _os.path.isdir(cons_at_root)
            else _os.path.join(tmp_root, m["consolidated"])
        )
        cons_df = _part_df(cons_path, commit.CONSOLIDATED_BATCH)
        live = [
            entry
            for entry in _os.listdir(p)
            if entry.startswith(prefix)
            and entry != m["consolidated"]
            and int(entry[len(prefix):]) not in folded_vals
            and _os.path.isdir(_os.path.join(p, entry))
        ]
        if not live:
            return cons_df
        rest = spark.read.parquet(p).where(
            ~F.col(commit.BATCH_COL).isin(
                folded_vals + [commit.CONSOLIDATED_BATCH]
            )
        )
        return rest.unionByName(cons_df)
    if _os.path.isdir(_os.path.join(old_root, cons_name)):
        # pre-commit: roll-back view (set-aside consolidated + everything
        # still at root) — again two branches
        cons_df = _part_df(
            _os.path.join(old_root, cons_name), commit.CONSOLIDATED_BATCH
        )
        has_root_parts = any(
            entry.startswith(prefix)
            and _os.path.isdir(_os.path.join(p, entry))
            for entry in _os.listdir(p)
        )
        if not has_root_parts:
            return cons_df
        return spark.read.parquet(p).unionByName(cons_df)
    return spark.read.parquet(p)


def compact_streaming_index(
    spark: SparkSession,
    root: str,
    *,
    keep_latest: int = 2,
    target_file_mb: int = 128,
    sub_partition_col: str | None = None,
) -> dict:
    """Retention/compaction for append-mode streaming index stores
    (``streaming/corpus.py`` bands, ``streaming/embeddings.py`` lists):
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
    ``lsh_bucket``) through the rewrite.

    Crash safety: the fold commits through :mod:`sources.commit` — the
    consolidated rewrite lands in a hidden tmp sibling, a marker file
    written at the commit point lists the folded dirs, and an interrupted
    fold is rolled forward past the marker or back before it by
    :func:`commit.recover_fold` on the next call. Readers racing the swap
    can transiently see the index without the consolidated rows (a
    near-dup admitted once) or with folded rows duplicated (harmless:
    candidate pairs are distinct, width caps momentarily tighter) —
    :func:`fold_consistent_read` closes that window; a transactional
    table format is the cluster-grade answer.

    Returns {"folded", "partitions_after", "files_after"}.
    """
    import math
    import os as _os

    p = root.rstrip("/")
    commit.recover_fold(p)
    prefix = commit.BATCH_COL + "="
    parts = {
        int(entry[len(prefix):]): entry
        for entry in _os.listdir(p)
        if entry.startswith(prefix) and _os.path.isdir(_os.path.join(p, entry))
    }
    real = sorted(v for v in parts if v != commit.CONSOLIDATED_BATCH)
    fold = real[: len(real) - keep_latest] if keep_latest else real
    if not fold:
        return {"folded": 0, "partitions_after": len(parts), "files_after": None}
    had_consolidated = commit.CONSOLIDATED_BATCH in parts
    fold_vals = fold + ([commit.CONSOLIDATED_BATCH] if had_consolidated else [])
    fold_names = [parts[v] for v in fold_vals]
    cons_name = f"{prefix}{commit.CONSOLIDATED_BATCH}"

    fold_bytes = sum(
        _os.path.getsize(f) for name in fold_names for f in _data_files(_os.path.join(p, name))
    )
    n_out = max(1, math.ceil(fold_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(p).where(F.col(commit.BATCH_COL).isin(fold_vals)).drop(commit.BATCH_COL)
    if sub_partition_col:
        writer = df.repartition(n_out, sub_partition_col).write.partitionBy(sub_partition_col)
    else:
        writer = df.repartition(n_out).write
    writer.mode("overwrite").parquet(_os.path.join(p + "._fold_tmp", cons_name))
    commit._fold_commit(p, cons_name, fold_names, had_consolidated)
    return {
        "folded": len(fold),
        "partitions_after": len(parts) - len(fold_vals) + 1,
        "files_after": len(_data_files(root)),
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
