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
    """Training-corpus cleaning pipeline (extension tier), end to end:

        optional HTML-to-text extraction (--html-col: the crawl-funnel
          front stage — tag/script/style strip + link-density block
          filter, operators/text.py::html_extract)
        → optional per-source boilerplate strip (--strip-boilerplate:
          within-source template windows spliced from every occurrence,
          BEFORE dedup so shared chrome can't fake near-dups)
        → scrub (line dedup + PII redaction)
        → exact dedup (content hash, lowest id wins)
        → near-dup clusters (MinHash pairs — or, with --pair-source
          semantic, model-free tfidf-hashed-vector cosine pairs —
          optionally gated by --confirm-embeddings: pairs must ALSO
          score cosine ≥ --confirm-tau on a provided embedding table
          before anything is dropped (two-signal precision mode)
          → connected components)
          → keep the best-quality member per cluster
        → optional substring-level passage dedup (--passage-dedup:
          cross-doc duplicated passages spliced out of every
          non-canonical occurrence, Lee et al. 2022; docs falling below
          --min-remaining-tokens are dropped)
        → optional DSIR selection (--dsir-target: keep the --dsir-top-k
          docs ranked by hashed-ngram log-likelihood ratio vs the target
          corpus, Xie et al. 2023 — after dedup, before the rate sample)
        → optional CE-band selection (--ce-bands: keep only the listed
          CCNet perplexity bands — head,middle,tail over the corpus's own
          unigram LM, histogram two-pass; Wenzek et al. 2020 keep
          head+middle)
        → optional model-based quality gate (--quality-model: keep docs
          whose hashed-feature NB log-odds under a train-quality model
          is >= --quality-threshold — the fastText-style supervised
          filter, Joulin et al. 2016 / operators/classifier.py)
        → deterministic sample (md5-bucket, reproducible/incremental)
        → optional train/val/test split manifest (--splits; content-keyed,
          stable under incremental reruns)
        → sharded next-fit packing into fixed-token context windows

    Writes <out>/corpus (cleaned docs + window assignment) and
    <out>/windows (one row per context window) as parquet. Every stage is
    the same operator the oracle-checked queries exercise.

    ``--quarantine`` additionally writes <out>/quarantine: one
    (doc_id, reason) row per INPUT doc absent from the output, tagged
    with the FIRST stage that dropped it (stage order: repetitive →
    code → boilerplate_hollowed → repeat_hollowed → exact_dup → near_dup →
    passage_hollowed → not_dsir_selected → no_tokens → ce_band_dropped →
    classifier_low_quality → not_sampled; no_tokens = the doc tokenizes
    to zero tokens, so no CE
    score exists and --ce-bands drops it even when all three bands are
    requested) — the auditable
    exclusion table (the CLI-chain form of
    operators/text.py::quarantine_report; the last two reasons are RATE
    decisions, not quality judgments). Each stage's complement is taken
    against that stage's own input, so quarantine ∪ kept partitions the
    input exactly. The flag adds localCheckpoints on the stage outputs
    ONLY its complements re-consume (stripped/derep/deduped/spliced/
    topk), so the rejected sides never re-run the expensive
    splice/pair-generation lineage; the clusters and with_tokens
    checkpoints are UNCONDITIONAL — those frames are double-consumed on
    the default path too (the r12 chain probe measured both cuts paying
    for themselves flag-off, SCALE.md)."""
    from functools import reduce as _reduce

    from pyspark.sql import DataFrame

    from commercepulse_data_pipeline_spark.operators import dedup as dd
    from commercepulse_data_pipeline_spark.operators import graph
    from commercepulse_data_pipeline_spark.operators import packing
    from commercepulse_data_pipeline_spark.operators import text as tx
    from commercepulse_data_pipeline_spark.operators.sampling import (
        assign_splits,
        deterministic_sample,
    )

    # Parse + validate CLI stage specs UP FRONT (ADVICE r12): a typo like
    # --ce-bands 'head,bogus' used to be caught only inside the pipeline,
    # AFTER the eager exact-dedup and cluster localCheckpoint jobs had
    # already burned the whole scrub/dedup/clustering compute. Same class
    # of late failure for a malformed --splits spec — both now exit
    # before a SparkSession even starts, with the same messages.
    keep_bands: set[str] | None = None
    if args.ce_bands:
        keep_bands = {b.strip() for b in args.ce_bands.split(",") if b.strip()}
        bad = keep_bands - {"head", "middle", "tail"}
        if bad or not keep_bands:
            raise SystemExit(
                f"--ce-bands: want a comma list from head,middle,tail — got {args.ce_bands!r}"
            )
    split_fracs: dict[str, float] | None = None
    if args.splits:
        split_fracs = {}
        for spec in args.splits.split(","):
            name, eq, frac = spec.partition("=")
            name = name.strip()
            try:
                value = float(frac)
            except ValueError:
                value = None
            if not eq or not name or value is None:
                raise SystemExit(
                    f"--splits: bad spec {spec!r} (want name=fraction, "
                    f"e.g. 'train=0.9,val=0.05,test=0.05')"
                )
            if name in split_fracs:
                raise SystemExit(f"--splits: duplicate split name {name!r}")
            split_fracs[name] = value

    spark = _spark()
    docs = spark.read.parquet(args.docs)

    if getattr(args, "html_col", None):
        # HTML-to-text extraction FIRST (r15): real crawls arrive as
        # markup; every stage below assumes extracted text. Map-only
        # regex projection (operators/text.py::html_extract), then one
        # id-keyed join to keep the input's other columns (source,
        # lang, ...) on the extracted rows.
        if args.html_col not in docs.columns:
            raise SystemExit(
                f"--html-col {args.html_col!r} not in {sorted(docs.columns)}"
            )
        extracted = tx.html_extract(docs, args.html_col, "doc_id").select(
            "doc_id", "text"
        )
        # cut the regex lineage ONCE: every downstream stage (repetition
        # gate, scrub, dedup pair source, quality, the quarantine
        # complements) consumes docs, and without the checkpoint each
        # re-runs the whole extraction chain + the id join — measured
        # +5.6s on the 20k chain probe, 0 with the cut (r15)
        docs = (
            docs.drop("text", args.html_col)
            .join(extracted, "doc_id")
            .localCheckpoint(eager=True)
        )

    quarantine = bool(getattr(args, "quarantine", False))
    rejects: list[DataFrame] = []

    def _reject(ids: DataFrame, reason: str) -> None:
        rejects.append(ids.select(F.col("doc_id"), F.lit(reason).alias("reason")))

    if args.max_dup_line_frac < 1.0 or args.max_top_ngram_frac < 1.0:
        # Gopher-style boilerplate gate (map-only), on the RAW text and
        # BEFORE scrub: scrub's line-dedup removes exactly the repeats
        # dup_line_frac measures, so gating after it would be a no-op.
        # Dropping repetitive docs first also shrinks the shingle volume
        # the pairwise dedup stages shuffle.
        scores = tx.repetition_scores(docs, "text")
        keep_rep = (F.col("dup_line_frac") <= args.max_dup_line_frac) & (
            F.col("top_ngram_frac") <= args.max_top_ngram_frac
        )
        if quarantine:
            _reject(scores.where(~keep_rep), "repetitive")
        docs = scores.where(keep_rep).drop("dup_line_frac", "top_ngram_frac")
    if args.drop_code:
        # code-vs-prose routing gate (map-only, RAW text — scrub's
        # redaction would perturb the symbol counts): a prose corpus
        # drops flagged docs here so the dedup stages never shingle
        # them; route the quarantine table to a code-specific pipeline
        # instead of discarding (the operator's intended use)
        flags = tx.code_detect(docs, "text", "doc_id").where(F.col("is_code"))
        if quarantine:
            _reject(flags, "code")
        # no broadcast hint: the flagged set is corpus-proportional (code
        # is commonly 10-30% of a mixed crawl), so let AQE pick the join
        # strategy like the other quarantine stages do
        docs = docs.join(flags.select("doc_id"), "doc_id", "left_anti")
    if args.strip_boilerplate:
        # per-source template removal BEFORE dedup: shared chrome makes
        # otherwise-distinct docs look like near-dups, so stripping it
        # first both fixes the text and keeps the MinHash stage honest
        if "source" not in docs.columns:
            raise SystemExit(
                "--strip-boilerplate needs a 'source' column in --docs"
            )
        stripped = tx.strip_boilerplate(
            docs,
            window_tokens=args.passage_window,
            min_docs=args.min_passage_docs,
        )
        keep_strip = (
            F.col("n_tokens") - F.col("n_tokens_removed")
            >= args.min_remaining_tokens
        )
        if quarantine:
            # consumed twice below (keep + reject) — cut the splice lineage
            stripped = stripped.localCheckpoint(eager=True)
            _reject(stripped.where(~keep_strip), "boilerplate_hollowed")
        docs = (
            stripped.where(keep_strip)
            .withColumn("text", F.col("text_stripped"))
            .drop(
                "text_stripped", "n_tokens", "n_tokens_removed",
                "n_boiler_windows",
            )
        )
    if args.strip_repeats:
        # WITHIN-doc repeated-span removal (loop artifacts, paragraphs
        # duplicated down a page) BEFORE scrub/dedup: repeats inflate a
        # doc's shingle mass, so de-repeating first keeps the pair
        # stages honest the same way boilerplate stripping does
        derep = tx.strip_intradoc_repeats(
            docs,
            window_tokens=args.passage_window,
            min_repeats=args.min_repeats,
        )
        keep_derep = (
            F.col("n_tokens") - F.col("n_tokens_removed")
            >= args.min_remaining_tokens
        )
        if quarantine:
            derep = derep.localCheckpoint(eager=True)
            _reject(derep.where(~keep_derep), "repeat_hollowed")
        docs = (
            derep.where(keep_derep)
            .withColumn("text", F.col("text_derepeated"))
            .drop("text_derepeated", "n_tokens", "n_tokens_removed", "n_repeat_windows")
        )
    scrubbed = tx.scrub(docs, "text").withColumn("text", F.col("scrubbed")).drop("scrubbed")
    # Materialize the post-strip/scrub/dedup corpus ONCE: downstream it is
    # consumed by the pair source, the quality scorer and the survivor
    # anti-join (plus every final write), and without a lineage cut each
    # consumer re-runs the whole splice+scrub+dedup chain — the r11
    # end-to-end chain probe (SCALE.md) is what surfaced the recompute.
    # localCheckpoint = executor-local storage, the same single-node
    # posture as connected_components' default (pass a reliable
    # checkpoint dir there for the preemptible-cluster variant).
    exact = dd.exact_dedup(scrubbed, "text", "doc_id").localCheckpoint(eager=True)
    if quarantine:
        _reject(
            scrubbed.join(exact.select("doc_id"), "doc_id", "left_anti"),
            "exact_dup",
        )

    if args.pair_source == "semantic":
        # model-free SEMANTIC near-dup pairs: tfidf hashed vectors →
        # LSH-blocked self-kNN → cosine threshold. Catches paraphrase
        # duplicates (same content words, different order/stopwords)
        # that token-shingle MinHash misses; MinHash remains the default
        # for verbatim/boilerplate near-dups.
        from commercepulse_data_pipeline_spark.operators import (
            similarity as _sim,
        )

        # one materialization: knn_join_self consumes its corpus three
        # times (bucketing + both sides of the pair-score join), and the
        # tfidf vector build is itself a multi-shuffle lineage — without
        # the cut it runs three times inside the one pairs job (r11
        # chain-probe finding, SCALE.md)
        vecs = (
            tx.hashed_doc_vectors(
                exact, "text", "doc_id", dim=64, weighting="tfidf"
            )
            .select(F.col("doc_id").alias("vec_id"), F.col("vector").alias("embedding"))
            .localCheckpoint(eager=True)
        )
        # recall-oriented LSH knobs: paraphrase pairs sit near the
        # threshold (cos ~0.8 → ~0.8 per-bit agreement), where the
        # operator's default 8-planes/4-tables finds a pair with only
        # ~50% probability; 6 planes × 8 tables lifts that to ~90% while
        # the cosine threshold still rejects false candidates exactly
        knn = _sim.knn_join_self(
            vecs, k=5, n_planes=6, n_tables=8,
            id_col="vec_id", vec_col="embedding", dim=64,
        )
        pairs = knn.where(
            (F.col("cosine_sim") >= args.semantic_tau)
            & (F.col("query_id") < F.col("neighbor_id"))
        ).select(
            F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
        )
    elif args.confirm_embeddings:
        pairs = dd.minhash_candidate_pairs(exact, "text", "doc_id")
    else:
        # cluster-only consumer: STAR edges (r16) — identical components,
        # CC input linear (not quadratic) in band-bucket occupancy
        pairs = dd.minhash_star_edges(exact, "text", "doc_id")
    if args.confirm_embeddings:
        # two-signal dedup (precision mode): the lexical blocker's
        # candidate pairs must ALSO agree semantically before any doc is
        # dropped — score each pair with exact pairwise cosine over the
        # provided embedding table (operators/similarity.py::score_pairs,
        # O(|pairs|) joins, never generates pairs) and keep only pairs at
        # or above --confirm-tau. A pair with a missing or zero-norm
        # vector has NO semantic evidence and is NOT confirmed — both
        # docs survive (conservative: precision mode never drops a doc on
        # lexical evidence alone).
        from commercepulse_data_pipeline_spark.operators import (
            similarity as _simc,
        )

        emb = spark.read.parquet(args.confirm_embeddings)
        pairs = (
            _simc.score_pairs(pairs, emb)
            .where(F.col("cosine_sim") >= args.confirm_tau)
            .select("id_a", "id_b")
        )
    # clusters is ALWAYS double-consumed (keep_best_per_cluster + the
    # losers anti-join put its subtree in the final plan twice), and its
    # lineage is the pair generation + iterative CC — the r12 quarantine
    # probe measured the cut paying for itself even on the base chain
    # (20k-doc chain ran FASTER with the flag on before this hoist)
    clusters = graph.dedup_clusters(pairs).localCheckpoint(eager=True)
    quality = tx.quality_score(exact, "text").select("doc_id", "quality_score")
    keep = graph.keep_best_per_cluster(clusters, quality)
    # drop clustered docs that are NOT the kept representative
    losers = clusters.join(
        keep.select(F.col("kept_doc_id").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id")
    deduped = exact.join(losers, "doc_id", "left_anti")
    if quarantine:
        _reject(losers, "near_dup")
        # downstream complements (dsir/sample) re-consume deduped
        deduped = deduped.localCheckpoint(eager=True)

    if args.passage_dedup:
        # whole-doc dedup above removes duplicate DOCUMENTS; this splices
        # duplicated PASSAGES out of otherwise-distinct survivors (one
        # canonical occurrence kept), then drops hollowed-out docs
        spliced = tx.dedup_passages(
            deduped,
            window_tokens=args.passage_window,
            min_docs=args.min_passage_docs,
        )
        keep_passage = (
            F.col("n_tokens") - F.col("n_tokens_removed")
            >= args.min_remaining_tokens
        )
        if quarantine:
            spliced = spliced.localCheckpoint(eager=True)
            _reject(spliced.where(~keep_passage), "passage_hollowed")
        deduped = (
            spliced.where(keep_passage)
            .withColumn("text", F.col("text_deduped"))
            .drop("text_deduped", "n_tokens", "n_tokens_removed", "n_dup_windows")
        )

    if args.dsir_target:
        # DSIR selection AFTER dedup (scoring duplicates would just
        # re-rank copies) and BEFORE the rate sample: keep the docs that
        # look most like the target distribution, then thin uniformly
        from commercepulse_data_pipeline_spark.operators.sampling import (
            dsir_importance,
        )

        tgt = spark.read.parquet(args.dsir_target)
        scored = dsir_importance(
            deduped.select("doc_id", "text"), tgt.select("text")
        )
        topk = (
            scored.orderBy(
                F.col("dsir_logratio").desc(), F.col("doc_id").asc()
            )
            .limit(args.dsir_top_k)
            .select("doc_id")
        )
        if quarantine:
            # topk is consumed twice under the flag; it is a <= top_k-row
            # id frame, so the checkpoint is pennies next to re-running
            # the DSIR scoring join for the reject side
            topk = topk.localCheckpoint(eager=True)
            _reject(deduped.join(topk, "doc_id", "left_anti"), "not_dsir_selected")
        deduped = deduped.join(F.broadcast(topk), "doc_id", "left_semi")

    if args.ce_bands:
        # CCNet-style perplexity-band selection AFTER dedup (scoring
        # duplicates would weight copies) and BEFORE the rate sample:
        # band every doc by unigram-LM bits-per-token via the histogram
        # two-pass (global, no per-row sort — works with or without a
        # lang column), keep only the requested bands. Wenzek et al.
        # 2020 keep head+middle; tail = rare-word soup / noise.
        from commercepulse_data_pipeline_spark.operators.sampling import (
            score_bands_histogram,
        )

        # (keep_bands parsed + validated up front, before any Spark job)
        ce = tx.unigram_cross_entropy(deduped.select("doc_id", "text"), "text")
        if quarantine:
            # ce is consumed twice under the flag (the band map AND the
            # no_tokens anti-join below) and its lineage is the vocab
            # join — cut it BEFORE deriving the band map so the CE
            # scoring runs once
            ce = ce.localCheckpoint(eager=True)
        banded = score_bands_histogram(ce, "bits_per_token")
        kept_ids = banded.where(F.col("band").isin(*sorted(keep_bands))).select(
            "doc_id"
        )
        if quarantine:
            # a doc whose text tokenizes to ZERO tokens has no CE row at
            # all (no perplexity is defined for it), so it can never band
            # — it is dropped even by '--ce-bands head,middle,tail'.
            # Quarantine it under its own reason (ADVICE r12: tagging it
            # ce_band_dropped misstated why it vanished).
            kept_ids = kept_ids.localCheckpoint(eager=True)
            _reject(
                deduped.join(ce.select("doc_id"), "doc_id", "left_anti"),
                "no_tokens",
            )
            _reject(
                deduped.join(ce.select("doc_id"), "doc_id", "left_semi")
                .join(kept_ids, "doc_id", "left_anti"),
                "ce_band_dropped",
            )
        deduped = deduped.join(kept_ids, "doc_id", "left_semi")

    if getattr(args, "quality_model", None):
        # model-based quality gate (r15): score every survivor under the
        # persisted NB model (train-quality artifact) and keep docs at or
        # above the log-odds threshold. Runs AFTER dedup (scoring
        # duplicates would just re-judge copies) and after the
        # distribution selectors, BEFORE the rate sample — it is a
        # quality judgment, not a rate decision. The model (a
        # ~n_buckets-row table) broadcasts; scoring is one feature
        # explode + one broadcast join per doc.
        from commercepulse_data_pipeline_spark.operators import (
            classifier as _clf,
        )

        model, meta = _clf.read_model(spark, args.quality_model)
        if meta.get("kind", "nb-binary-v1") != "nb-binary-v1":
            raise SystemExit(
                f"--quality-model: {args.quality_model} is a "
                f"{meta.get('kind')!r} artifact; the quality gate needs a "
                f"BINARY model (train-quality without --multiclass)"
            )
        scored = _clf.nb_score(
            deduped.select("doc_id", "text"), model,
            n_buckets=meta["n_buckets"], salt=meta["salt"],
        )
        keep_ids = scored.where(
            F.col("nb_logodds") >= args.quality_threshold
        ).select("doc_id")
        if quarantine:
            keep_ids = keep_ids.localCheckpoint(eager=True)
            _reject(
                deduped.join(keep_ids, "doc_id", "left_anti"),
                "classifier_low_quality",
            )
        deduped = deduped.join(keep_ids, "doc_id", "left_semi")

    sampled = deterministic_sample(deduped, "doc_id", args.sample_rate, salt=args.salt)
    if quarantine:
        _reject(
            deduped.join(sampled.select("doc_id"), "doc_id", "left_anti"),
            "not_sampled",
        )

    if args.splits:
        # train/val/test manifest AFTER all dedup/sampling (so the split
        # fractions apply to what actually ships) — content-keyed, so a
        # doc keeps its split across incremental reruns (no eval leakage);
        # fracs parsed + validated up front, before any Spark job
        fracs = split_fracs
        # salt MUST differ from deterministic_sample's: with the same salt,
        # every sample survivor has bucket < rate*2^32, so the split
        # boundaries (computed over the full [0, 2^32) range) collapse —
        # e.g. rate 0.1 with train=0.8 would put ALL rows in the last split
        sampled = assign_splits(sampled, "doc_id", fracs, salt=args.salt + "split:")

    # with_tokens is double-consumed (pack_sequences input + the corpus
    # join), so without a cut the sample/splice chain above it runs twice
    # inside the corpus-write action (r12 chain probe: 15.0 -> 13.8s at
    # 20k docs with the cut)
    with_tokens = sampled.withColumn(
        "n_tokens", F.size(tx.tokens(F.col("text")))
    ).localCheckpoint(eager=True)
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
    if quarantine:
        qdf = _reduce(DataFrame.unionByName, rejects)
        qdf.write.mode("overwrite").parquet(f"{args.out}/quarantine")
        n_q = spark.read.parquet(f"{args.out}/quarantine").count()
        quarantine_msg = f", {n_q} quarantined with reasons"
        # kept + quarantined partitions the INPUT exactly, so derive the
        # input count instead of counting `docs` (which by this point is
        # the post-gate/post-strip frame and would understate it)
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
    multiclass = bool(getattr(args, "multiclass", False))
    if multiclass:
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
        kind="nb-multiclass-v1" if multiclass else "nb-binary-v1",
        provenance={"label_col": args.label_col, "docs": args.docs},
    )
    n = labeled.count()
    if multiclass:
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
    (``{store}/index/bands`` or ``{store}/index/lists``) into its
    consolidated partition, keeping the newest ``--keep-latest`` batch
    partitions for replay safety. Run it on a cron beside a live stream —
    the fold is crash-recoverable and the store stays queryable."""
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
    from commercepulse_data_pipeline_spark.streaming.media import (
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
    keep_degenerate = getattr(args, "keep_degenerate", False)
    if args.modality == "video":
        frames = mm.video_frame_hashes(
            media, max_frames=args.max_frames
        ).localCheckpoint(eager=True)
        n_bad = frames.where(F.col("err").isNotNull()).count()
        vsig = args.sig if args.sig != "ehash" else "ahash"
        if not keep_degenerate:
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
        if not keep_degenerate:
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
    if args.update:
        # incremental ingest: the batch probes the persisted index
        # (O(batch) banding + a key-restricted index scan, appending its
        # own bands), and the resulting pairs fold into the cluster
        # table via merge_cluster_update — per-batch cost is
        # batch-proportional on BOTH stages; neither the corpus nor its
        # pair graph is ever re-derived
        pairs = dd.minhash_pairs_incremental(
            docs, spark, args.index,
            max_bucket=args.max_bucket, update_index=True,
        )
        if args.confirm_embeddings:
            from commercepulse_data_pipeline_spark.operators import (
                similarity as _simc,
            )

            emb = spark.read.parquet(args.confirm_embeddings)
            pairs = (
                _simc.score_pairs(pairs, emb)
                .where(F.col("cosine_sim") >= args.confirm_tau)
                .select("id_a", "id_b")
            )
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
    if getattr(args, "report_occupancy", False):
        # occupancy under EXACTLY the banding keys + cap the pair stage
        # uses (r15 guard): a band bucket past --max-bucket drops
        # WHOLESALE — surface it instead of letting "few clusters" read
        # as "few dups". Bands are built once and reused by the pairs.
        bands_df = dd.minhash_bands(
            docs, "text", "doc_id", num_hashes=8, bands=4, shingle_n=3
        ).localCheckpoint(eager=True)
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
            docs, args.index, num_hashes=8, bands=4, shingle_n=3
        )
    provenance = {
        "blocker": "minhash", "num_hashes": 8, "bands": 4, "shingle_n": 3,
        "max_bucket": args.max_bucket, "docs": args.docs,
        "index": args.index,
    }
    if args.confirm_embeddings:
        from commercepulse_data_pipeline_spark.operators import (
            similarity as _simc,
        )

        emb = spark.read.parquet(args.confirm_embeddings)
        pairs = (
            _simc.score_pairs(pairs, emb)
            .where(F.col("cosine_sim") >= args.confirm_tau)
            .select("id_a", "id_b")
        )
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
    Append mode pins the layout params via the meta sidecar and rolls
    the corpus stats forward (operators/retrieval.py::write_text_index)."""
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    spark = _spark()
    docs = spark.read.parquet(args.docs)
    mode = "append" if args.append else "overwrite"
    ret.write_text_index(
        docs, args.out, text_col=args.text_col, id_col=args.id_col,
        n_buckets=args.n_buckets, mode=mode, positions=args.positions,
    )
    meta = ret.read_text_index_meta(spark, args.out)
    print(
        f"text-index: {mode} -> {args.out} "
        f"(n_docs={meta['n_docs']}, sum_dl={meta['sum_dl']}, "
        f"n_buckets={meta['n_buckets']}, "
        f"positions={meta.get('positions', False)})"
    )
    return 0


def cmd_search(args) -> int:
    """BM25 top-k retrieval: `--index <dir>` probes a persisted inverted
    index (partition-pruned — the serving path; accepts batch-built and
    stream-built stores), `--docs <parquet>` scores by corpus scan (the
    one-off path). Terms are comma-separated; prints the hits and
    optionally lands them as parquet."""
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
                "--index (the index meta's columns win)"
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
                         "index meta; corpus stats roll forward")
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
