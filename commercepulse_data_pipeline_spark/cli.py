"""Command-line entry points mirroring the reference's runnable scripts
(SURVEY §3 lifecycle): a user of the reference can switch 1:1.

    reference                              this engine
    ------------------------------------   ------------------------------------------
    python src/bootstrap_loader.py         python -m commercepulse_data_pipeline_spark.cli bootstrap …
    python src/live_event_loader.py DATE   python -m commercepulse_data_pipeline_spark.cli load-live …
    python src/bq_loader.py                python -m commercepulse_data_pipeline_spark.cli transform …
    python src/quality_report.py           python -m commercepulse_data_pipeline_spark.cli report …
    python src/populate_dimensions.py      python -m commercepulse_data_pipeline_spark.cli dims …

Destinations are parquet directories (the warehouse) instead of
MongoDB/BigQuery; pass ``--csv`` to also land CSVs like the reference's
``warehouse/facts/*.csv`` (reference src/transformer.py:230-248).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _spark():
    from commercepulse_data_pipeline_spark.session import get_spark

    return get_spark(app_name="commercepulse-cli")


def _silver_tables(spark, bronze: str, ref_compat: bool = False):
    from commercepulse_data_pipeline_spark.sources.readers import read_bronze

    events = read_bronze(spark, bronze)
    if ref_compat:
        # Bug-compat reference mode (compat.py): reference type sets and
        # key maps, quirks Q1/Q2 included — reproduces the reference's
        # shipped warehouse bit-for-bit (tests/test_golden_replay.py).
        # Shipments stay None: Q8 (no shipment consumer) is part of the
        # reference behavior being reproduced.
        from commercepulse_data_pipeline_spark import compat

        events = compat.ensure_pos(events)
        return (
            compat.normalize_orders_ref(events),
            compat.normalize_payments_ref(events),
            compat.normalize_refunds_ref(events),
            None,
        )
    from commercepulse_data_pipeline_spark.plans import silver

    return (
        silver.normalize_orders(events),
        silver.normalize_payments(events),
        silver.normalize_refunds(events),
        silver.normalize_shipments(events),
    )


def _write(df, path: str, csv: bool) -> None:
    df.write.mode("overwrite").parquet(f"{path}.parquet")
    if csv:
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(f"{path}.csv")


def cmd_bootstrap(args) -> int:
    """Historical JSON arrays → bronze (reference src/bootstrap_loader.py:108-122)."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        read_historical_json,
        write_bronze,
    )

    spark = _spark()
    for spec in args.files:
        event_type, path = spec.split("=", 1)
        env = read_historical_json(spark, path, event_type)
        write_bronze(env.dropDuplicates(["event_id"]), args.bronze)
        print(f"bootstrapped {event_type}: {env.count()} events")
    return 0


def cmd_load_live(args) -> int:
    """One landing day of JSONL → bronze, with the reference's skip count
    (reference src/live_event_loader.py:15-66)."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        read_jsonl_events,
        skip_count,
        valid_events,
        write_bronze,
    )

    spark = _spark()
    path = f"{args.landing}/{args.date}/events.jsonl"
    raw = read_jsonl_events(spark, path)
    skipped = skip_count(raw)
    good = valid_events(raw).dropDuplicates(["event_id"])
    write_bronze(good, args.bronze)
    print(f"loaded {good.count()} events from {args.date} ({skipped} skipped)")
    return 0


def cmd_transform(args) -> int:
    """bronze → silver facts → gold daily aggregate (reference
    src/bq_loader.py:98-142 + src/transformer.py:190-248)."""
    from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily

    spark = _spark()
    orders, payments, refunds, shipments = _silver_tables(spark, args.bronze, args.ref_compat)
    if args.ref_compat:
        from commercepulse_data_pipeline_spark.compat import build_fact_order_daily_ref

        daily = build_fact_order_daily_ref(orders, payments, refunds)
    else:
        daily = build_fact_order_daily(orders, payments, refunds)
    w = args.warehouse
    _write(orders, f"{w}/fact_orders", args.csv)
    _write(payments, f"{w}/fact_payments", args.csv)
    _write(refunds, f"{w}/fact_refunds", args.csv)
    if shipments is not None:
        _write(shipments, f"{w}/fact_shipments", args.csv)
    _write(daily, f"{w}/fact_order_daily", args.csv)
    n_ship = shipments.count() if shipments is not None else 0
    print(
        f"orders={orders.count()} payments={payments.count()} "
        f"refunds={refunds.count()} shipments={n_ship} daily_rows={daily.count()}"
    )
    return 0


def cmd_report(args) -> int:
    """Data-quality report (reference src/quality_report.py:6-165).

    ``--ref-compat`` renders ``compat.quality_report_ref`` — the
    reference's EXACT numbers (null-safe isin orphans, success-only
    revenue) — so the flag's bug-compat claim covers the report too, not
    just silver (ADVICE r2). Default mode uses the fixed SQL-semantics
    ``plans.quality.full_report``."""
    from commercepulse_data_pipeline_spark.plans.quality import full_report

    spark = _spark()
    orders, payments, refunds, shipments = _silver_tables(spark, args.bronze, args.ref_compat)
    if args.ref_compat:
        from commercepulse_data_pipeline_spark.compat import quality_report_ref

        report = quality_report_ref(orders, payments, refunds)
        lines = ["DATA QUALITY REPORT (ref-compat)", "=" * 40]
        for key, val in report.items():
            if isinstance(val, dict):
                lines.append(f"\n[{key}]")
                lines.extend(f"  {k}={v}" for k, v in val.items())
            else:
                lines.append(f"  {key}={val}")
    else:
        sections = full_report(orders, payments, refunds, shipments)
        lines = ["DATA QUALITY REPORT", "=" * 40]
        for name, df in sections.items():
            lines.append(f"\n[{name}]")
            for row in df.collect():
                lines.append("  " + ", ".join(f"{k}={v}" for k, v in row.asDict().items()))
    text = "\n".join(lines)
    print(text)
    if args.out:
        import os

        os.makedirs(args.out, exist_ok=True)
        with open(f"{args.out}/quality_report.txt", "w") as f:
            f.write(text + "\n")
    return 0


def cmd_dims(args) -> int:
    """Dimension tables (reference src/populate_dimensions.py:108-124)."""
    from commercepulse_data_pipeline_spark.plans.dimensions import (
        build_dim_customer,
        build_dim_date,
        build_dim_product,
    )

    spark = _spark()
    orders, _, _, _ = _silver_tables(spark, args.bronze)
    w = args.warehouse
    _write(build_dim_date(spark), f"{w}/dim_date", args.csv)
    _write(build_dim_customer(orders), f"{w}/dim_customer", args.csv)
    _write(build_dim_product(spark), f"{w}/dim_product", args.csv)
    print("dims written")
    return 0


def cmd_clean_corpus(args) -> int:
    """Training-corpus cleaning pipeline (extension tier): the stage
    table of operators/curation.py::clean_corpus_stages (optional HTML
    extraction and pre-dedup gates/strips → scrub → exact dedup →
    near-dup clusters keep-best → optional passage dedup, DSIR, CE-band
    and quality selection → deterministic sample → optional split
    manifest), applied by ``curation.run``, then sharded next-fit packing
    into fixed-token context windows.

    Writes <out>/corpus (cleaned docs + window assignment) and
    <out>/windows (one row per context window) as parquet. Every stage is
    the same operator the oracle-checked queries exercise.

    ``--quarantine`` additionally writes <out>/quarantine: one
    (doc_id, reason) row per INPUT doc absent from the output, tagged
    with the FIRST stage that dropped it (reason order in the curation
    module docstring), so quarantine ∪ kept partitions the input
    exactly."""
    from commercepulse_data_pipeline_spark.operators import curation, packing

    stages = curation.clean_corpus_stages(args, _spark)
    spark = _spark()
    docs = spark.read.parquet(args.docs)
    if args.html_col and args.html_col not in docs.columns:
        raise SystemExit(f"--html-col {args.html_col!r} not in {sorted(docs.columns)}")
    if args.strip_boilerplate and "source" not in docs.columns:
        raise SystemExit("--strip-boilerplate needs a 'source' column in --docs")
    with_tokens, rejects = curation.run(docs, stages, args.quarantine)

    # packed feeds both the corpus join and the windows write; without the
    # persist each write would re-run the MinHash + iterative
    # connected-components DAG upstream of it
    packed = packing.pack_sequences(
        with_tokens, "doc_id", "n_tokens", capacity=args.capacity, salt=args.salt
    ).persist()
    corpus = with_tokens.join(packed.select("doc_id", "shard", "bin_idx"), "doc_id").persist()

    corpus.write.mode("overwrite").parquet(f"{args.out}/corpus")
    packing.packed_windows(packed).write.mode("overwrite").parquet(f"{args.out}/windows")
    quarantine_msg = ""
    n_out = corpus.count()  # corpus is cached by its write
    if rejects is not None:
        rejects.write.mode("overwrite").parquet(f"{args.out}/quarantine")
        n_q = spark.read.parquet(f"{args.out}/quarantine").count()
        quarantine_msg = f", {n_q} quarantined with reasons"
        # kept + quarantined partitions the input exactly
        n_in = n_out + n_q
    else:
        n_in = docs.count()
    packed.unpersist()
    corpus.unpersist()
    print(
        f"clean-corpus: {n_in} docs in -> {n_out} kept{quarantine_msg}, "
        f"windows written to {args.out}"
    )
    return 0


def cmd_train_quality(args) -> int:
    """Train the supervised quality classifier (r15 —
    operators/classifier.py): a hashed-feature binary Naive Bayes over
    labeled docs (the fastText-shape model-based filter DCLM/FineWeb
    pipelines gate on), persisted as a parquet model artifact +
    meta sidecar that ``clean-corpus --quality-model`` consumes. Train
    is pure distributed aggregation — one feature explode, bucket
    counts with map-side combine, two 1-row totals — and the model is
    kilobytes at any corpus size."""
    from commercepulse_data_pipeline_spark.operators import classifier as clf

    spark = _spark()
    labeled = spark.read.parquet(args.docs)
    if args.label_col not in labeled.columns:
        raise SystemExit(
            f"train-quality: --label-col {args.label_col!r} not in "
            f"{sorted(labeled.columns)}"
        )
    if args.multiclass:
        model = clf.nb_train_multiclass(
            labeled, text_col=args.text_col, label_col=args.label_col,
            n_buckets=args.n_buckets, salt=args.salt,
        )
    else:
        model = clf.nb_train(
            labeled, text_col=args.text_col, label_col=args.label_col,
            n_buckets=args.n_buckets, salt=args.salt,
        )
    clf.write_model(
        model, args.out, n_buckets=args.n_buckets, salt=args.salt,
        kind="nb-multiclass-v1" if args.multiclass else "nb-binary-v1",
        provenance={"label_col": args.label_col, "docs": args.docs},
    )
    n = labeled.count()
    if args.multiclass:
        k = labeled.where(F.col(args.label_col).isNotNull()).select(
            args.label_col
        ).distinct().count()
        print(
            f"train-quality: multiclass model over {n} docs ({k} classes) "
            f"-> {args.out} (n_buckets={args.n_buckets})"
        )
    else:
        n_pos = labeled.where(
            F.col(args.label_col).cast("boolean").eqNullSafe(F.lit(True))
        ).count()
        print(
            f"train-quality: model over {n} docs ({n_pos} positive) -> "
            f"{args.out} (n_buckets={args.n_buckets})"
        )
    return 0


def cmd_stream_gold(args) -> int:
    """Continuous gold maintenance (SURVEY §3.1 as streaming; the
    reference's stated limitation, README.md:207): tail the landing
    stream, fold each micro-batch into silver, MERGE affected days into
    ``{store}/gold``. ``--follow`` keeps the query alive for new files;
    without it the query drains what's available and exits (backfill /
    cron shape)."""
    from commercepulse_data_pipeline_spark.streaming.gold_upsert import (
        maintain_gold_daily_stream,
    )
    from commercepulse_data_pipeline_spark.streaming.ingest import read_event_stream

    spark = _spark()
    stream = read_event_stream(spark, f"{args.landing}/*/events.jsonl")
    q = maintain_gold_daily_stream(
        stream, args.store, args.checkpoint, trigger_once=not args.follow
    )
    q.awaitTermination()
    print(f"stream-gold: gold table maintained at {args.store}/gold")
    return 0


def cmd_stream_clean_corpus(args) -> int:
    """Continuous corpus curation: tail a directory of document parquet
    drops and maintain a cleaned, near-dup-free corpus — the streaming
    form of ``clean-corpus`` (scrub → exact dedup → near-dup filter
    against the persisted MinHash index, keep-first across batches).
    ``--follow`` keeps the query alive; without it the query drains
    what's available and exits."""
    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.corpus import clean_corpus_batch

    spark = _spark()
    q = batches.start(
        batches.drops(spark, args.docs, args.schema),
        args.checkpoint,
        lambda df, i: clean_corpus_batch(
            df, i, args.store,
            quarantine=args.quarantine,
            html_col=args.html_col,
            quality_model_dir=args.quality_model,
            quality_threshold=args.quality_threshold,
        ),
        trigger_once=not args.follow,
    )
    q.awaitTermination()
    print(f"stream-clean-corpus: corpus maintained at {args.store}/corpus")
    return 0


def cmd_stream_cluster_table(args) -> int:
    """Continuous cluster-table maintenance: tail a directory of document
    parquet drops and fold each batch's near-dup pairs into the persisted
    cluster table (streaming/clusters.py — the "cluster, then decide"
    twin of stream-clean-corpus: every doc lands; downstream keep-best /
    savings / quarantine policy reads the table via `dedup-report`).
    ``--follow`` keeps the query alive; without it the query drains
    what's available and exits."""
    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.clusters import (
        cluster_table_batch,
    )

    spark = _spark()
    q = batches.start(
        batches.drops(spark, args.docs, "doc_id long, text string"),
        args.checkpoint,
        lambda df, i: cluster_table_batch(df, i, args.store),
        trigger_once=not args.follow,
    )
    q.awaitTermination()
    print(
        f"stream-cluster-table: cluster table maintained at "
        f"{args.store}/clusters"
    )
    return 0


def cmd_stream_passage_dedup(args) -> int:
    """Continuous substring-level passage dedup: tail a directory of
    document parquet drops and splice cross-doc duplicated passages as
    they arrive (keep-first canonical across batches via the persisted
    fingerprint index). ``--probes`` pre-seeds the index with an
    evaluation set's fingerprints so the same stream also decontaminates
    (no canonical survivor for eval passages). ``--follow`` keeps the
    query alive."""
    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.passages import (
        passage_dedup_batch,
        seed_probe_fingerprints,
    )

    spark = _spark()
    if args.probes:
        seed_probe_fingerprints(
            spark.read.parquet(args.probes),
            args.store,
            window_tokens=args.window_tokens,
            min_docs=args.min_docs,
        )
    q = batches.start(
        batches.drops(spark, args.docs, "doc_id long, text string"),
        args.checkpoint,
        lambda df, i: passage_dedup_batch(
            df, i, args.store,
            window_tokens=args.window_tokens, min_docs=args.min_docs,
        ),
        trigger_once=not args.follow,
    )
    q.awaitTermination()
    print(f"stream-passage-dedup: corpus maintained at {args.store}/corpus")
    return 0


def cmd_stream_dedup_embeddings(args) -> int:
    """Continuous EMBEDDING curation: tail a directory of vector parquet
    drops and maintain a semantically-deduplicated store + sign-LSH index
    (the vector twin of ``stream-clean-corpus``; keep-first across
    batches, replay-idempotent). ``--follow`` keeps the query alive."""
    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.embeddings import (
        dedup_embeddings_batch,
    )

    spark = _spark()
    q = batches.start(
        batches.drops(spark, args.vectors, "vec_id long, embedding array<float>"),
        args.checkpoint,
        lambda df, i: dedup_embeddings_batch(
            df, i, args.store, tau=args.tau, n_planes=args.n_planes
        ),
        trigger_once=not args.follow,
    )
    q.awaitTermination()
    print(f"stream-dedup-embeddings: vector store maintained at {args.store}/vectors")
    return 0


def cmd_compact(args) -> int:
    """Storage maintenance: collapse a parquet dataset's small files to
    ~target-size outputs (atomic directory swap; partition-aware with
    ``--partition-col``). The chronic cost of streaming ingest at scale."""
    from commercepulse_data_pipeline_spark.sources.readers import compact_parquet

    spark = _spark()
    stats = compact_parquet(
        spark, args.path,
        target_file_mb=args.target_file_mb,
        partition_col=args.partition_col,
    )
    print(
        f"compact: {args.path}: {stats['files_before']} files → "
        f"{stats['files_after']} ({stats['bytes']} bytes)"
    )
    return 0


def cmd_compact_index(args) -> int:
    """Streaming-store maintenance: fold a batch-partitioned index dir
    (``{store}/index/bands``, ``{store}/index/lists`` with
    ``--sub-partition-col lsh_bucket``, or a text index's
    ``{index}/stats`` and ``{index}/postings`` with
    ``--sub-partition-col term_bucket``) into its consolidated partition,
    keeping the newest ``--keep-latest`` batch partitions for replay
    safety. Run it on a cron beside a live stream — the fold is
    crash-recoverable and the store stays queryable: every reader of
    these stores lists them through ``readers.store_partitions``, so a
    running or interrupted fold reads as the store before or after it."""
    from commercepulse_data_pipeline_spark.sources.readers import (
        compact_streaming_index,
    )

    spark = _spark()
    stats = compact_streaming_index(
        spark, args.root,
        keep_latest=args.keep_latest,
        target_file_mb=args.target_file_mb,
        sub_partition_col=args.sub_partition_col,
    )
    print(
        f"compact-index: {args.root}: folded {stats['folded']} batch "
        f"partitions → {stats['partitions_after']} remain "
        f"({stats['files_after']} files)"
    )
    return 0


def cmd_purge(args) -> int:
    """Right-to-erasure: delete rows matching the given keys from a
    parquet dataset (atomic swap; run per table to propagate a request
    through bronze/silver/gold)."""
    from commercepulse_data_pipeline_spark.sources.readers import purge_keys

    spark = _spark()
    stats = purge_keys(
        spark, args.path, args.key_col, args.keys,
        partition_col=args.partition_col,
    )
    print(
        f"purge: {args.path}: removed {stats['rows_removed']} of "
        f"{stats['rows_before']} rows ({args.key_col} in {args.keys})"
    )
    return 0


def cmd_media_features(args) -> int:
    """Batch media featurization: read a parquet of (media_id, modality,
    content binary) rows, decode/featurize through the Arrow-batched
    path, write the feature table. ``--real`` dispatches the pure-Python
    decoders on magic bytes; default is the deterministic fake codec.
    Default error posture quarantines undecodable payloads as
    ``decode_error`` rows (``--strict`` restores raise-on-error)."""
    from commercepulse_data_pipeline_spark import multimodal as mm
    from commercepulse_data_pipeline_spark.multimodal import (
        extract_features_tolerant,
    )

    spark = _spark()
    media = spark.read.parquet(args.media)
    decoder = mm.real_decode if args.real else mm.DeterministicFakeDecoder.decode
    feats = extract_features_tolerant(
        media, decoder=decoder, on_error="raise" if args.strict else "null"
    )
    feats.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out)
    bad = n.where(F.col("decode_error").isNotNull()).count()
    print(f"media-features: {n.count()} rows written to {args.out} "
          f"({bad} quarantined)")
    return 0


def cmd_media_dedup(args) -> int:
    """Batch media near-dup detection (r14): read a parquet of
    (media_id, content binary) rows, hash through the modality's
    Arrow-batched path, emit the near-dup pair table — and, with
    ``--cluster-table``, fold the pairs into a persisted cluster-table
    artifact so media gets the same keep-best / savings / quarantine
    downstream as text. ``--modality image`` uses aHash (or dHash with
    ``--sig dhash``) per still image; ``video`` hashes EVERY decodable
    frame and pairs clips by containment (``video_neardup_pairs``);
    ``audio`` uses the gain-invariant energy-envelope hash. Undecodable
    payloads are counted and skipped (tolerant err rows), never fail
    the job."""
    import os

    from commercepulse_data_pipeline_spark import multimodal as mm
    from commercepulse_data_pipeline_spark.operators import dedup as dd
    from commercepulse_data_pipeline_spark.operators import graph

    spark = _spark()
    media = spark.read.parquet(args.media)
    if args.modality == "video":
        frames = mm.video_frame_hashes(
            media, max_frames=args.max_frames
        ).localCheckpoint(eager=True)
        n_bad = frames.where(F.col("err").isNotNull()).count()
        vsig = args.sig if args.sig != "ehash" else "ahash"
        if not args.keep_degenerate:
            frames = dd.drop_degenerate_sigs(frames, sig_col=vsig)
        occ_sigs = mm._frame_sig_table(frames, vsig).withColumnRenamed(
            "fid", "media_id"
        )
        pairs = mm.video_neardup_pairs(
            frames, sig_col=vsig,
            hamming_threshold=args.hamming, min_match_frac=args.min_match_frac,
            max_bucket=args.max_bucket,
        )
        pair_edges = pairs.select("id_a", "id_b")
    else:
        if args.modality == "image":
            hashes = mm.image_ahash(media).localCheckpoint(eager=True)
            sig = args.sig if args.sig in ("ahash", "dhash") else "ahash"
        else:
            hashes = mm.audio_hash(media).localCheckpoint(eager=True)
            sig = "ehash"
        n_bad = hashes.where(F.col("err").isNotNull()).count()
        sigs = hashes.where(F.col(sig).isNotNull()).select("media_id", sig)
        if not args.keep_degenerate:
            sigs = dd.drop_degenerate_sigs(sigs, sig_col=sig)
        occ_sigs = sigs.select("media_id", F.col(sig).alias("sig"))
        pairs = dd.sig_hamming_pairs(
            sigs, id_col="media_id", sig_col=sig,
            hamming_threshold=args.hamming, max_bucket=args.max_bucket,
        )
        pair_edges = pairs.select("id_a", "id_b")
    # Occupancy under the EXACT pairing keys/cap (r15 guard): a bucket
    # past --max-bucket drops WHOLESALE from the pair stage — surface it
    # instead of letting "0 pairs" read as "no dups found".
    occ = {
        r["status"]: r
        for r in dd.sig_block_occupancy(
            occ_sigs, id_col="media_id", sig_col="sig",
            hamming_threshold=args.hamming, max_bucket=args.max_bucket,
        ).collect()
    }
    dropped = occ.get("dropped")
    if dropped is not None:
        print(
            f"media-dedup[{args.modality}]: WARNING {dropped['n_buckets']} "
            f"block bucket(s) past --max-bucket={args.max_bucket} were "
            f"DROPPED ({dropped['n_items']} signature postings, widest "
            f"{dropped['max_bucket_n']}) — pairs inside them are NOT in "
            f"the output; raise --max-bucket or pre-filter the family"
        )
    pairs = pairs.localCheckpoint(eager=True)
    pairs.write.mode("overwrite").parquet(os.path.join(args.out, "pairs"))
    n_pairs = pairs.count()
    if args.cluster_table:
        table_path = os.path.join(args.out, "clusters")
        graph.write_cluster_table(
            graph.dedup_clusters(pair_edges),
            table_path,
            provenance={
                "modality": args.modality, "sig": args.sig,
                "hamming_threshold": args.hamming,
            },
        )
        print(f"media-dedup: cluster table at {table_path}")
    print(
        f"media-dedup[{args.modality}]: {n_pairs} near-dup pairs "
        f"({n_bad} undecodable skipped) -> {args.out}/pairs"
    )
    return 0


def cmd_cluster_table(args) -> int:
    """Build the corpus's near-dup CLUSTER TABLE once and persist it as
    the report artifact (operators/graph.py::write_cluster_table): MinHash
    candidate pairs (optionally gated by --confirm-embeddings, the same
    two-signal precision mode clean-corpus uses) → connected components →
    (doc_id, cluster_id, cluster_size) parquet + a provenance meta
    sidecar. Every dedup report (`dedup-report`, keep-best policies,
    survivor complements) then consumes this ONE materialized CC run —
    the pair graph never re-derives per consumer.

    With ``--index`` the fresh build also persists the corpus's MinHash
    band index; ``--update`` then folds a NEW batch in incrementally:
    the batch probes the index for cross-batch pairs (O(batch) banding,
    appending its own bands), and ``merge_cluster_update`` re-clusters
    only the affected subgraph — continuous clustered dedup with
    batch-proportional per-ingest cost."""
    from commercepulse_data_pipeline_spark.operators import dedup as dd
    from commercepulse_data_pipeline_spark.operators import graph

    if args.update and not args.index:
        raise SystemExit(
            "cluster-table --update needs --index (the persisted MinHash "
            "index the batch probes for cross-batch pairs; build the "
            "table once with --index to enable updates)"
        )
    spark = _spark()
    docs = spark.read.parquet(args.docs)

    def confirmed(pairs):
        # --confirm-embeddings: keep only the pairs whose embeddings agree
        if not args.confirm_embeddings:
            return pairs
        from commercepulse_data_pipeline_spark.operators.similarity import score_pairs

        emb = spark.read.parquet(args.confirm_embeddings)
        return (
            score_pairs(pairs, emb)
            .where(F.col("cosine_sim") >= args.confirm_tau)
            .select("id_a", "id_b")
        )

    if args.update:
        # incremental ingest: the batch probes the persisted index
        # (O(batch) banding + a key-restricted index scan, appending its
        # own bands), and the resulting pairs fold into the cluster
        # table via merge_cluster_update — per-batch cost is
        # batch-proportional on BOTH stages; neither the corpus nor its
        # pair graph is ever re-derived
        pairs = confirmed(dd.minhash_pairs_incremental(
            docs, spark, args.index,
            max_bucket=args.max_bucket, update_index=True,
        ))
        graph.update_cluster_table(spark, args.out, pairs)
        stats = graph.read_cluster_table(spark, args.out).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("cluster_id").alias("c"),
        ).head()
        print(
            f"cluster-table: updated — {stats['n']} docs in {stats['c']} "
            f"near-dup clusters at {args.out}"
        )
        return 0
    bands_df = None
    if args.index or args.report_occupancy:
        # band ONCE when a second consumer needs the bands: the pair
        # stage, the occupancy report and the index write all read this
        # pinned table instead of re-running the md5 signature build
        bands_df = dd.minhash_bands(
            docs, "text", "doc_id", num_hashes=8, bands=4, shingle_n=3
        ).localCheckpoint(eager=False)
    if args.report_occupancy:
        # occupancy under EXACTLY the banding keys + cap the pair stage
        # uses (r15 guard): a band bucket past --max-bucket drops
        # WHOLESALE — surface it instead of letting "few clusters" read
        # as "few dups".
        occ = {
            r["status"]: r
            for r in dd.bucket_occupancy_report(
                bands_df, ["band_id", "band_key"], max_bucket=args.max_bucket
            ).collect()
        }
        dropped = occ.get("dropped")
        if dropped is not None:
            print(
                f"cluster-table: WARNING {dropped['n_buckets']} band "
                f"bucket(s) past --max-bucket={args.max_bucket} were "
                f"DROPPED ({dropped['n_items']} postings, widest "
                f"{dropped['max_bucket_n']}) — pairs inside them are "
                f"NOT clustered; raise --max-bucket or pre-filter"
            )
        else:
            print("cluster-table: occupancy clean (no dropped band buckets)")
    if args.confirm_embeddings:
        # the semantic confirm gate scores REAL candidate pairs — star
        # edges would only score member-vs-bucket-min, a different gate
        pairs = dd.minhash_candidate_pairs(
            docs, "text", "doc_id",
            num_hashes=8, bands=4, shingle_n=3, max_bucket=args.max_bucket,
            bands_df=bands_df,
        )
    else:
        # cluster-only consumer: STAR edges (r16) — same connected
        # components as the pair explosion (a bucket's star spans its
        # clique), CC input linear in bucket occupancy instead of
        # quadratic; see dd.minhash_star_edges
        pairs = dd.minhash_star_edges(
            docs, "text", "doc_id",
            num_hashes=8, bands=4, shingle_n=3, max_bucket=args.max_bucket,
            bands_df=bands_df,
        )
    if args.index:
        # persist the batch's bands as the probe index so later
        # --update calls dedup against everything seen so far
        dd.write_minhash_index(
            docs, args.index, num_hashes=8, bands=4, shingle_n=3, bands_df=bands_df
        )
    provenance = {
        "blocker": "minhash", "num_hashes": 8, "bands": 4, "shingle_n": 3,
        "max_bucket": args.max_bucket, "docs": args.docs,
        "index": args.index,
    }
    pairs = confirmed(pairs)
    if args.confirm_embeddings:
        provenance.update(
            {"confirm_embeddings": args.confirm_embeddings,
             "confirm_tau": args.confirm_tau}
        )
    clusters = graph.dedup_clusters(pairs)
    graph.write_cluster_table(clusters, args.out, provenance=provenance)
    stats = graph.read_cluster_table(spark, args.out).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("c"),
    ).head()
    print(
        f"cluster-table: {stats['n']} docs in {stats['c']} near-dup "
        f"clusters written to {args.out}"
    )
    return 0


def cmd_dedup_report(args) -> int:
    """Dedup reports from a persisted cluster table — the consumer side
    of `cluster-table`: reads the artifact ONCE and derives (a) the
    cluster-size histogram with singleton completion against --docs and
    (b) the per---group-col savings table (skipped when the column is
    absent). Plans are pure parquet-scan aggregates; no pair graph, no
    CC iterations. With --out, both land as parquet next to a printed
    summary."""
    from commercepulse_data_pipeline_spark.operators import graph

    spark = _spark()
    art = graph.read_cluster_table(spark, args.cluster_table)
    docs = spark.read.parquet(args.docs)
    hist = graph.cluster_size_histogram(art, docs)
    rows = hist.collect()
    n_docs = sum(r["n_docs"] for r in rows)
    n_clusters = sum(r["n_clusters"] for r in rows)
    print(f"dedup-report: {n_docs} docs in {n_clusters} clusters "
          f"(keep-one-per-cluster drops {n_docs - n_clusters})")
    for r in rows:
        print(f"  size {r['cluster_size']}: {r['n_clusters']} clusters, "
              f"{r['n_docs']} docs")
    savings = None
    if args.group_col in docs.columns:
        savings = graph.dedup_savings_by_source(art, docs, args.group_col)
        for r in savings.orderBy(F.col("n_dropped").desc()).limit(10).collect():
            print(f"  {args.group_col}={r[args.group_col]}: "
                  f"{r['n_dropped']}/{r['n_docs']} dropped "
                  f"(dup_frac {r['dup_frac']})")
    else:
        print(f"  (no {args.group_col!r} column in --docs; "
              "skipping per-group savings)")
    if args.out:
        hist.write.mode("overwrite").parquet(f"{args.out}/size_histogram")
        if savings is not None:
            savings.write.mode("overwrite").parquet(f"{args.out}/savings_by_group")
        print(f"dedup-report: tables written to {args.out}")
    return 0


def cmd_text_index(args) -> int:
    """Build (or incrementally append to) the BM25 inverted index from a
    documents parquet — the serving artifact `search --index` probes.
    The build is the consolidated partition of the store
    `stream-text-index` grows, so either command can extend an index
    the other wrote. Append mode refuses a store with other layout
    params and adds one stats row, so the corpus stats roll forward
    (operators/retrieval.py::write_text_index); the summary line sums
    every stats row of the store."""
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    spark = _spark()
    docs = spark.read.parquet(args.docs)
    mode = "append" if args.append else "overwrite"
    ret.write_text_index(
        docs, args.out, text_col=args.text_col, id_col=args.id_col,
        n_buckets=args.n_buckets, mode=mode, positions=args.positions,
    )
    stats = ret._index_stats(spark, args.out)
    print(
        f"text-index: {mode} -> {args.out} "
        f"(n_docs={stats['n_docs']}, sum_dl={stats['sum_dl']}, "
        f"n_buckets={stats['n_buckets']}, positions={stats['positions']})"
    )
    return 0


def cmd_search(args) -> int:
    """BM25 top-k retrieval: `--index <dir>` probes a persisted inverted
    index (partition-pruned — the serving path; `text-index` and
    `stream-text-index` write the same store, and the index's stats
    rows supply the corpus stats and columns), `--docs <parquet>` scores
    by corpus scan (the one-off path). Terms are comma-separated; prints
    the hits and optionally lands them as parquet."""
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    terms = [t for t in (s.strip() for s in args.terms.split(",")) if t]
    if not terms:
        raise SystemExit("search: --terms must name at least one term")
    spark = _spark()
    if args.phrase and not args.index:
        raise SystemExit(
            "search: --phrase needs --index (a positional one — "
            "text-index --positions)"
        )
    if args.index:
        if args.text_col != "text" or args.id_col != "doc_id":
            print(
                "search: WARNING --text-col/--id-col are ignored with "
                "--index (the index's own id column wins)"
            )
        if args.phrase:
            hits = ret.phrase_topk(spark, args.index, terms, k=args.k)
        else:
            hits = ret.bm25_topk_indexed(spark, args.index, terms, k=args.k)
    else:
        docs = spark.read.parquet(args.docs)
        hits = ret.bm25_topk(
            docs, terms, text_col=args.text_col, id_col=args.id_col, k=args.k
        )
    # collect once; the optional parquet lands from the collected rows so
    # the probe/scan job never executes twice
    rows = hits.collect()
    what = "phrase" if args.phrase else "terms"
    print(f"search: top {len(rows)} of k={args.k} for {what}={terms}")
    for r in rows:
        detail = (
            f"n_phrase={r['n_phrase']}"
            if args.phrase
            else f"score={r['score']} n_match={r['n_match']}"
        )
        print(f"  #{r['rank']}: {hits.columns[1]}={r[1]} {detail} dl={r['dl']}")
    if args.out:
        spark.createDataFrame(rows, hits.schema).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(f"search: hits written to {args.out}")
    return 0


def cmd_stream_text_index(args) -> int:
    """Continuously maintain the BM25 postings store from a directory of
    document parquet drops (streaming/retrieval.py::text_index_batch —
    per-batch overwrite partitions, replay-idempotent; serve any time
    with `search --index <store>`)."""
    from commercepulse_data_pipeline_spark.streaming import batches
    from commercepulse_data_pipeline_spark.streaming.retrieval import (
        text_index_batch,
    )

    spark = _spark()
    q = batches.start(
        batches.drops(spark, args.docs_path, args.schema),
        args.checkpoint,
        lambda df, i: text_index_batch(
            df, i, args.store,
            text_col=args.text_col, id_col=args.id_col, n_buckets=args.n_buckets,
        ),
        trigger_once=not args.continuous,
    )
    if args.continuous:
        print(f"stream-text-index: running against {args.docs_path} "
              f"(store {args.store}); Ctrl-C to stop")
        q.awaitTermination()
    else:
        q.awaitTermination()
        print(f"stream-text-index: drained available drops -> {args.store}")
    return 0


def cmd_skew_report(args) -> int:
    """Key-distribution diagnostics for a parquet dataset: exact group
    quantiles, skew ratio, recommended salt width, heaviest keys — the
    measurement that decides whether the salted paths are worth it."""
    from commercepulse_data_pipeline_spark.operators.skew import skew_report

    spark = _spark()
    df = spark.read.parquet(args.path)
    for r in skew_report(df, args.key_cols, top_n=args.top_n).collect():
        print(
            f"skew: {args.path}: key={r['key_col']} rows={r['n_rows']} "
            f"keys={r['n_keys']} max={r['max_cnt']} p50={r['p50_cnt']} "
            f"p99={r['p99_cnt']} ratio={r['skew_ratio']} "
            f"rec_salt_buckets={r['rec_salt_buckets']} top=[{r['top_keys']}]"
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="commercepulse", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bootstrap", help="historical JSON arrays → bronze")
    b.add_argument("files", nargs="+", help="event_type=path.json specs")
    b.add_argument("--bronze", required=True)
    b.set_defaults(fn=cmd_bootstrap)

    l = sub.add_parser("load-live", help="one landing day → bronze")
    l.add_argument("date")
    l.add_argument("--landing", required=True)
    l.add_argument("--bronze", required=True)
    l.set_defaults(fn=cmd_load_live)

    t = sub.add_parser("transform", help="bronze → silver+gold warehouse")
    t.add_argument("--bronze", required=True)
    t.add_argument("--warehouse", required=True)
    t.add_argument("--csv", action="store_true", help="also write single-file CSVs")
    t.add_argument("--ref-compat", action="store_true", help="bug-compat reference mode (quirks Q1/Q2 intact)")
    t.set_defaults(fn=cmd_transform)

    r = sub.add_parser("report", help="data-quality report")
    r.add_argument("--bronze", required=True)
    r.add_argument("--out", default=None)
    r.add_argument("--ref-compat", action="store_true", help="bug-compat reference mode (quirks Q1/Q2 intact)")
    r.set_defaults(fn=cmd_report)

    d = sub.add_parser("dims", help="dimension tables")
    d.add_argument("--bronze", required=True)
    d.add_argument("--warehouse", required=True)
    d.add_argument("--csv", action="store_true")
    d.set_defaults(fn=cmd_dims)

    c = sub.add_parser(
        "clean-corpus",
        help="training-corpus pipeline: scrub → dedup → cluster-keep-best → sample → pack",
    )
    c.add_argument("--docs", required=True, help="parquet with (doc_id, text, ...)")
    c.add_argument("--out", required=True)
    c.add_argument("--sample-rate", type=float, default=1.0, dest="sample_rate")
    c.add_argument("--capacity", type=int, default=2048, help="tokens per context window")
    c.add_argument("--salt", default="corpus-v1:")
    c.add_argument("--max-dup-line-frac", type=float, default=1.0, dest="max_dup_line_frac",
                   help="drop docs whose repeated-line fraction exceeds this (1.0 = off)")
    c.add_argument("--max-top-ngram-frac", type=float, default=1.0, dest="max_top_ngram_frac",
                   help="drop docs whose most-frequent-bigram fraction exceeds this (1.0 = off)")
    c.add_argument("--passage-dedup", action="store_true", dest="passage_dedup",
                   help="splice cross-doc duplicated passages out of "
                        "non-canonical occurrences (substring-level dedup)")
    c.add_argument("--passage-window", type=int, default=8, dest="passage_window",
                   help="tokens per passage fingerprint window")
    c.add_argument("--min-passage-docs", type=int, default=2, dest="min_passage_docs",
                   help="distinct docs sharing a window before it counts as duplicated")
    c.add_argument("--pair-source", choices=["minhash", "semantic"],
                   default="minhash", dest="pair_source",
                   help="near-dup candidate pairs: token-shingle MinHash "
                        "(default) or model-free semantic (tfidf hashed "
                        "vectors + LSH self-kNN, cosine >= --semantic-tau)")
    c.add_argument("--semantic-tau", type=float, default=0.85, dest="semantic_tau")
    c.add_argument("--confirm-embeddings", default=None, dest="confirm_embeddings",
                   help="parquet with (vec_id, embedding): two-signal dedup — "
                        "near-dup candidate pairs must also score cosine >= "
                        "--confirm-tau on these embeddings before a doc is "
                        "dropped (pairs without vector evidence are NOT "
                        "confirmed; both docs survive)")
    c.add_argument("--confirm-tau", type=float, default=0.9, dest="confirm_tau")
    c.add_argument("--strip-boilerplate", action="store_true", dest="strip_boilerplate",
                   help="per-source template removal before dedup (needs a "
                        "'source' column; window/min-docs from the passage flags)")
    c.add_argument("--strip-repeats", action="store_true", dest="strip_repeats",
                   help="within-document repeated-span removal before scrub/"
                        "dedup (first occurrence survives; window from "
                        "--passage-window, threshold from --min-repeats)")
    c.add_argument("--min-repeats", type=int, default=2, dest="min_repeats",
                   help="occurrences of a window within ONE doc before its "
                        "later occurrences are spliced")
    c.add_argument("--dsir-target", default=None, dest="dsir_target",
                   help="parquet with a 'text' column: keep the --dsir-top-k docs "
                        "whose hashed-ngram DSIR log-ratio vs this target is highest")
    c.add_argument("--dsir-top-k", type=int, default=10000, dest="dsir_top_k")
    c.add_argument("--min-remaining-tokens", type=int, default=1, dest="min_remaining_tokens",
                   help="drop docs left with fewer tokens after the splice")
    c.add_argument("--splits", default=None,
                   help="train/val/test manifest, e.g. 'train=0.9,val=0.05,test=0.05' "
                        "(content-keyed: stable under incremental reruns)")
    c.add_argument("--ce-bands", default=None, dest="ce_bands",
                   help="keep only these CCNet perplexity bands (comma list "
                        "from head,middle,tail; unigram-LM bits-per-token, "
                        "histogram two-pass) — e.g. 'head,middle' drops the "
                        "rare-word-soup tail")
    c.add_argument("--html-col", default=None, dest="html_col",
                   help="treat this input column as raw page HTML and run "
                        "HTML-to-text extraction first (tag/script/style "
                        "strip + link-density block filter); the extracted "
                        "text replaces the 'text' column")
    c.add_argument("--quality-model", default=None, dest="quality_model",
                   help="persisted train-quality model dir: keep only docs "
                        "whose NB log-odds score >= --quality-threshold "
                        "(the model-based filter; quarantine reason "
                        "'classifier_low_quality')")
    c.add_argument("--quality-threshold", type=float, default=0.0,
                   dest="quality_threshold",
                   help="log-odds keep threshold for --quality-model "
                        "(0.0 = the NB decision boundary)")
    c.add_argument("--drop-code", action="store_true", dest="drop_code",
                   help="drop docs the code-vs-prose gate flags (2 of 3 "
                        "regex signals: punctuation density, indentation, "
                        "terminator lines) — quarantine reason 'code'; "
                        "route the quarantine table to a code pipeline")
    c.add_argument("--quarantine", action="store_true",
                   help="also write <out>/quarantine: one (doc_id, reason) row "
                        "per dropped input doc, tagged with the FIRST stage "
                        "that dropped it (auditable/reversible exclusions)")
    c.set_defaults(fn=cmd_clean_corpus)

    tq = sub.add_parser(
        "train-quality",
        help="train the hashed-feature NB quality classifier from labeled docs",
    )
    tq.add_argument("--docs", required=True,
                    help="parquet with (doc_id, text, <label-col>) rows")
    tq.add_argument("--out", required=True, help="model artifact dir")
    tq.add_argument("--label-col", default="label", dest="label_col",
                    help="boolean-castable column; truthy = high quality")
    tq.add_argument("--text-col", default="text", dest="text_col")
    tq.add_argument("--n-buckets", type=int, default=1024, dest="n_buckets")
    tq.add_argument("--salt", default="nbq-v1:")
    tq.add_argument("--multiclass", action="store_true",
                    help="train the multiclass router (one NB model per "
                         "distinct label value — domain/language routing) "
                         "instead of the binary quality gate")
    tq.set_defaults(fn=cmd_train_quality)

    ti = sub.add_parser(
        "text-index",
        help="build/append the BM25 inverted index from a documents parquet",
    )
    ti.add_argument("--docs", required=True, help="documents parquet")
    ti.add_argument("--out", required=True, help="index dir")
    ti.add_argument("--text-col", default="text", dest="text_col")
    ti.add_argument("--id-col", default="doc_id", dest="id_col")
    ti.add_argument("--n-buckets", type=int, default=64, dest="n_buckets")
    ti.add_argument("--append", action="store_true",
                    help="incremental ingest: layout params must match the "
                         "index's stats rows; corpus stats roll forward")
    ti.add_argument("--positions", action="store_true",
                    help="positional layout (occurrence offsets in every "
                         "posting) — enables `search --phrase`")
    ti.set_defaults(fn=cmd_text_index)

    se = sub.add_parser(
        "search",
        help="BM25 top-k retrieval (persisted index probe or corpus scan)",
    )
    group = se.add_mutually_exclusive_group(required=True)
    group.add_argument("--index", help="inverted-index dir (serving path)")
    group.add_argument("--docs", help="documents parquet (scan path)")
    se.add_argument("--terms", required=True,
                    help="comma-separated query terms")
    se.add_argument("--k", type=int, default=10)
    se.add_argument("--phrase", action="store_true",
                    help="treat --terms as an exact phrase (in order, "
                         "adjacent); needs a positional --index")
    se.add_argument("--text-col", default="text", dest="text_col")
    se.add_argument("--id-col", default="doc_id", dest="id_col")
    se.add_argument("--out", help="optionally land the hits as parquet")
    se.set_defaults(fn=cmd_search)

    sti = sub.add_parser(
        "stream-text-index",
        help="continuously maintain the BM25 postings store from document drops",
    )
    sti.add_argument("--docs-path", required=True, dest="docs_path",
                     help="directory of document parquet drops")
    sti.add_argument("--store", required=True, help="postings store dir")
    sti.add_argument("--checkpoint", required=True)
    sti.add_argument("--schema", default="doc_id bigint, text string",
                     help="DDL schema of the incoming drops")
    sti.add_argument("--text-col", default="text", dest="text_col")
    sti.add_argument("--id-col", default="doc_id", dest="id_col")
    sti.add_argument("--n-buckets", type=int, default=64, dest="n_buckets")
    sti.add_argument("--continuous", action="store_true",
                     help="keep running (default drains available drops once)")
    sti.set_defaults(fn=cmd_stream_text_index)

    g = sub.add_parser(
        "stream-gold",
        help="continuously maintain fact_order_daily from the event landing stream",
    )
    g.add_argument("--landing", required=True, help="daily JSONL landing root (.../YYYY-MM-DD/events.jsonl)")
    g.add_argument("--store", required=True, help="state dir: silver tables + gold parquet")
    g.add_argument("--checkpoint", required=True)
    g.add_argument("--follow", action="store_true",
                   help="keep running for new files (default: drain available data once)")
    g.set_defaults(fn=cmd_stream_gold)

    sc = sub.add_parser(
        "stream-clean-corpus",
        help="continuously maintain a cleaned, near-dup-free corpus from document drops",
    )
    sc.add_argument("--docs", required=True, help="directory of document parquet files")
    sc.add_argument("--store", required=True, help="state dir: corpus + minhash index")
    sc.add_argument("--checkpoint", required=True)
    sc.add_argument("--follow", action="store_true",
                    help="keep running for new files (default: drain once)")
    sc.add_argument("--quarantine", action="store_true",
                    help="also maintain <store>/quarantine: one (doc_id, "
                         "reason) row per dropped doc per batch")
    sc.add_argument("--schema", default="doc_id long, text string",
                    help="stream source schema; required when "
                         "--html-col names a non-default column")
    sc.add_argument("--html-col", default=None, dest="html_col",
                    help="streaming twin of clean-corpus --html-col: run "
                         "HTML-to-text extraction on this column first")
    sc.add_argument("--quality-model", default=None, dest="quality_model",
                    help="streaming twin of clean-corpus --quality-model: "
                         "gate each batch's survivors on the persisted NB "
                         "model (quarantine reason classifier_low_quality)")
    sc.add_argument("--quality-threshold", type=float, default=0.0,
                    dest="quality_threshold")
    sc.set_defaults(fn=cmd_stream_clean_corpus)

    sct = sub.add_parser(
        "stream-cluster-table",
        help="continuously fold document drops into the persisted near-dup cluster table",
    )
    sct.add_argument("--docs", required=True, help="directory of document parquet files")
    sct.add_argument("--store", required=True,
                     help="state dir: cluster table + minhash band index")
    sct.add_argument("--checkpoint", required=True)
    sct.add_argument("--follow", action="store_true",
                     help="keep running for new files (default: drain once)")
    sct.set_defaults(fn=cmd_stream_cluster_table)

    sp = sub.add_parser(
        "stream-passage-dedup",
        help="continuously splice cross-doc duplicated passages from document drops",
    )
    sp.add_argument("--docs", required=True, help="directory of document parquet files")
    sp.add_argument("--store", required=True, help="state dir: corpus + fingerprint index")
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--probes", default=None,
                    help="parquet of eval docs whose fingerprints pre-seed the "
                         "index (continuous decontamination)")
    sp.add_argument("--window-tokens", type=int, default=8, dest="window_tokens")
    sp.add_argument("--min-docs", type=int, default=2, dest="min_docs")
    sp.add_argument("--follow", action="store_true",
                    help="keep running for new files (default: drain once)")
    sp.set_defaults(fn=cmd_stream_passage_dedup)

    se = sub.add_parser(
        "stream-dedup-embeddings",
        help="continuously maintain a semantically-deduplicated vector store from embedding drops",
    )
    se.add_argument("--vectors", required=True, help="directory of embedding parquet files")
    se.add_argument("--store", required=True, help="state dir: vectors + LSH index")
    se.add_argument("--checkpoint", required=True)
    se.add_argument("--tau", type=float, default=0.95, help="cosine near-dup threshold")
    se.add_argument("--n-planes", type=int, default=8, dest="n_planes")
    se.add_argument("--follow", action="store_true",
                    help="keep running for new files (default: drain once)")
    se.set_defaults(fn=cmd_stream_dedup_embeddings)

    cp = sub.add_parser("compact", help="collapse small parquet files in place")
    cp.add_argument("path")
    cp.add_argument("--target-file-mb", type=int, default=128)
    cp.add_argument("--partition-col", default=None)
    cp.set_defaults(fn=cmd_compact)

    ci = sub.add_parser(
        "compact-index", help="fold a streaming index's per-batch partitions"
    )
    ci.add_argument("root", help="index dir partitioned by ingest_batch")
    ci.add_argument("--keep-latest", type=int, default=2)
    ci.add_argument("--target-file-mb", type=int, default=128)
    ci.add_argument("--sub-partition-col", default=None)
    ci.set_defaults(fn=cmd_compact_index)

    pg = sub.add_parser("purge", help="delete rows by key from a parquet dataset")
    pg.add_argument("path")
    pg.add_argument("key_col")
    pg.add_argument("keys", nargs="+")
    pg.add_argument("--partition-col", default=None)
    pg.set_defaults(fn=cmd_purge)

    ct = sub.add_parser(
        "cluster-table",
        help="build + persist the near-dup cluster table artifact "
             "(one CC run, many report consumers)",
    )
    ct.add_argument("--docs", required=True, help="parquet with (doc_id, text, ...)")
    ct.add_argument("--out", required=True, help="artifact directory")
    ct.add_argument("--max-bucket", type=int, default=1000, dest="max_bucket",
                    help="LSH bucket cap for candidate pair generation")
    ct.add_argument("--confirm-embeddings", default=None, dest="confirm_embeddings",
                    help="parquet with (vec_id, embedding): keep only pairs "
                         "scoring cosine >= --confirm-tau (two-signal mode)")
    ct.add_argument("--confirm-tau", type=float, default=0.9, dest="confirm_tau")
    ct.add_argument("--index", default=None,
                    help="persisted MinHash index path: written on a fresh "
                         "build, probed+appended on --update")
    ct.add_argument("--update", action="store_true",
                    help="fold --docs (a NEW batch) into the existing "
                         "cluster table at --out: pairs vs --index + "
                         "within-batch, then merge_cluster_update — "
                         "batch-proportional, no corpus re-derivation")
    ct.add_argument("--report-occupancy", action="store_true",
                    dest="report_occupancy",
                    help="print the band-bucket occupancy rollup and WARN "
                         "when --max-bucket silently drops a bucket "
                         "(fresh builds only)")
    ct.set_defaults(fn=cmd_cluster_table)

    dr = sub.add_parser(
        "dedup-report",
        help="size histogram + per-group savings from a persisted cluster table",
    )
    dr.add_argument("--cluster-table", required=True, dest="cluster_table")
    dr.add_argument("--docs", required=True,
                    help="parquet corpus for singleton completion / grouping")
    dr.add_argument("--group-col", default="source", dest="group_col")
    dr.add_argument("--out", default=None, help="also write tables as parquet here")
    dr.set_defaults(fn=cmd_dedup_report)

    sk = sub.add_parser(
        "skew-report", help="key-distribution / salt-width diagnostics"
    )
    sk.add_argument("path")
    sk.add_argument("key_cols", nargs="+")
    sk.add_argument("--top-n", type=int, default=3)
    sk.set_defaults(fn=cmd_skew_report)

    mf = sub.add_parser(
        "media-features",
        help="featurize a media parquet (binary content) through the Arrow decode path",
    )
    mf.add_argument("--media", required=True,
                    help="parquet with (media_id, modality, content binary)")
    mf.add_argument("--out", required=True)
    mf.add_argument("--real", action="store_true",
                    help="use the real pure-Python decoders (default: deterministic fake codec)")
    mf.add_argument("--strict", action="store_true",
                    help="fail on undecodable payloads (default: quarantine as decode_error rows)")
    mf.set_defaults(fn=cmd_media_features)

    md = sub.add_parser(
        "media-dedup",
        help="near-dup pair table (+ optional cluster table) over a media parquet",
    )
    md.add_argument("--media", required=True,
                    help="parquet with (media_id, content binary)")
    md.add_argument("--out", required=True)
    md.add_argument("--modality", choices=("image", "video", "audio"),
                    default="image")
    md.add_argument("--sig", choices=("ahash", "dhash", "ehash"),
                    default="ahash",
                    help="signature column (image: ahash/dhash; audio always ehash)")
    md.add_argument("--hamming", type=int, default=4)
    md.add_argument("--min-match-frac", type=float, default=0.5,
                    help="video: containment fraction a pair must reach")
    md.add_argument("--max-frames", type=int, default=16)
    md.add_argument("--max-bucket", type=int, default=1000)
    md.add_argument("--keep-degenerate", action="store_true",
                    help="keep all-zero/all-one signatures (solid-color/"
                         "silence families) instead of dropping them "
                         "before pairing")
    md.add_argument("--cluster-table", action="store_true",
                    help="also persist a cluster-table artifact from the pairs")
    md.set_defaults(fn=cmd_media_dedup)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
