"""The clean-corpus chain, declared once: a stage table and one runner.

A curation chain is a list of ``Stage`` records. Each stage's ``fn``
maps the docs frame to a frame holding a subset of its docs (and may
rewrite their columns); ``reason`` names the docs it drops in the
quarantine table, and ``reason=None`` marks a stage that only rewrites
columns. ``run`` applies the list in order and, with ``quarantine`` on,
tags every dropped doc with the FIRST stage that dropped it: each
complement is that stage's own input anti-joined with its output, so
quarantine ∪ kept partitions the input exactly.

Pins (``localCheckpoint(eager=True)``) sit in two places only. A record
asks for one when its output is re-consumed on every path: the HTML
extraction (every later stage re-reads it), the exact-dedup output (pair
source, quality scorer and survivor anti-join), and the token count ahead
of packing (pack input and corpus join). Under quarantine ``run`` also
pins every stage that drops docs, because its complement reads its
output a second time — except the map-only filters (``repetitive``,
``code``, ``no_tokens``, ``not_sampled``), whose re-run costs less than
the checkpoint job. The near-dup stages pin their own clusters
(double-consumed by keep-best and the losers anti-join).

``clean_corpus_stages`` maps the ``clean-corpus`` flags onto the table;
``streaming/corpus.py::clean_corpus_batch`` runs the same constructors
with a cross-batch near-dup stage. Stage bodies look operators up on
their modules at call time (``tx.scrub``, not a captured ``scrub``), so a
caller that wraps a module attribute sees every call.

Stage order and reasons of the CLI chain:

    html extraction (--html-col)
    → repetitive (--max-dup-line-frac / --max-top-ngram-frac)
    → code (--drop-code)
    → boilerplate_hollowed (--strip-boilerplate)
    → repeat_hollowed (--strip-repeats)
    → scrub → exact_dup → near_dup
    → passage_hollowed (--passage-dedup)
    → not_dsir_selected (--dsir-target)
    → no_tokens → ce_band_dropped (--ce-bands)
    → classifier_low_quality (--quality-model)
    → not_sampled → split manifest (--splits) → token count

``no_tokens`` is a doc that tokenizes to zero tokens: it has no CE score,
so ``--ce-bands`` drops it even when all three bands are requested. The
last two reasons are rate decisions, not quality judgments.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators import dedup as dd
from commercepulse_data_pipeline_spark.operators import graph
from commercepulse_data_pipeline_spark.operators import sampling
from commercepulse_data_pipeline_spark.operators import text as tx


class Stage(NamedTuple):
    """``pin``: True = always pinned; None = pinned under quarantine when
    the stage drops docs; False = never (a filter cheaper to re-run for
    its complement than to checkpoint)."""

    reason: str | None
    fn: Callable[[DataFrame], DataFrame]
    pin: bool | None = None


def run(
    docs: DataFrame, stages: list[Stage], quarantine: bool
) -> tuple[DataFrame, DataFrame | None]:
    """Apply ``stages`` in order → (kept, rejects). ``rejects`` is one
    (doc_id, reason) row per dropped doc under ``quarantine``, else None."""
    rejects = []
    for stage in stages:
        out = stage.fn(docs)
        drops = quarantine and stage.reason is not None
        if stage.pin or (drops and stage.pin is None):
            out = out.localCheckpoint(eager=True)
        if drops:
            rejects.append(
                docs.join(out.select("doc_id"), "doc_id", "left_anti").select(
                    F.col("doc_id"), F.lit(stage.reason).alias("reason")
                )
            )
        docs = out
    return docs, (reduce(DataFrame.unionByName, rejects) if rejects else None)


# ------------------------------------------------------ shared constructors


def html_stage(html_col: str) -> Stage:
    """HTML-to-text extraction (tag/script/style strip + link-density
    block filter); one id-keyed join keeps the input's other columns.
    Pinned: without the cut every later stage re-runs the regex chain
    (+5.6 s on the 20k-doc chain probe)."""

    def fn(df):
        extracted = tx.html_extract(df, html_col).select("doc_id", "text")
        return df.drop("text", html_col).join(extracted, "doc_id")

    return Stage(None, fn, pin=True)


def _hollowed(reason, splice, text_col, count_col, min_remaining_tokens) -> Stage:
    """A window-splice stage: rewrite text to the spliced form and drop
    docs left with fewer than ``min_remaining_tokens`` tokens."""

    def fn(df):
        return (
            splice(df)
            .where(F.col("n_tokens") - F.col("n_tokens_removed") >= min_remaining_tokens)
            .withColumn("text", F.col(text_col))
            .drop(text_col, "n_tokens", "n_tokens_removed", count_col)
        )

    return Stage(reason, fn)


def strip_repeats_stage(window_tokens: int, min_repeats: int, min_remaining_tokens: int) -> Stage:
    """Within-doc repeated-span removal (first occurrence survives)."""
    return _hollowed(
        "repeat_hollowed",
        lambda df: tx.strip_intradoc_repeats(
            df, window_tokens=window_tokens, min_repeats=min_repeats
        ),
        "text_derepeated", "n_repeat_windows", min_remaining_tokens,
    )


def scrub_stage() -> Stage:
    """Line dedup + PII redaction (pure projections)."""
    return Stage(
        None,
        lambda df: tx.scrub(df, "text").withColumn("text", F.col("scrubbed")).drop("scrubbed"),
    )


def exact_dedup_stage() -> Stage:
    """Content-hash dedup, lowest id wins."""
    return Stage("exact_dup", lambda df: dd.exact_dedup(df, "text", "doc_id"), pin=True)


def _keep_ids(reason, ids_of, broadcast=False) -> Stage:
    """A selection stage: keep the docs whose ids ``ids_of(df)`` returns."""

    def fn(df):
        ids = ids_of(df)
        return df.join(F.broadcast(ids) if broadcast else ids, "doc_id", "left_semi")

    return Stage(reason, fn)


def quality_stage(spark, model_dir: str, threshold: float) -> Stage:
    """Model-based quality gate: keep docs whose NB log-odds under the
    persisted train-quality model is >= ``threshold``. Reads the model
    now, so a multiclass artifact is refused before any chain work."""
    from commercepulse_data_pipeline_spark.operators import classifier as clf

    model, meta = clf.read_model(spark, model_dir)
    if meta.get("kind", "nb-binary-v1") != "nb-binary-v1":
        raise ValueError(
            f"{model_dir} is a {meta.get('kind')!r} artifact; the quality "
            f"gate needs a BINARY model (train-quality without --multiclass)"
        )
    return _keep_ids(
        "classifier_low_quality",
        lambda df: clf.nb_score(
            df.select("doc_id", "text"), model,
            n_buckets=meta["n_buckets"], salt=meta["salt"],
        )
        .where(F.col("nb_logodds") >= threshold)
        .select("doc_id"),
    )


def cross_batch_near_dup_stage(batch_bands, idx, params, max_bucket, pin) -> Stage:
    """The streaming near-dup stage: drop within-batch near-dups (lowest
    id wins) and arriving near-dups of indexed docs — ``idx`` is the prior
    batches' bands or None; ``batch_bands`` are this batch's, built once."""

    def fn(batch):
        drop = dd.minhash_candidate_pairs(
            batch, "text", "doc_id", max_bucket=max_bucket, bands_df=batch_bands, **params
        ).select(F.col("id_b").alias("doc_id"))
        if idx is not None:
            # cross-batch: the INDEXED copy survives; the arriving dup drops.
            # Pairs come back normalized (id_a < id_b), so "the batch side"
            # is whichever member is in this batch — the other member is an
            # index-only id the anti-join below can't touch anyway.
            vs_index = dd.minhash_pairs_between(
                batch, idx, "text", "doc_id",
                max_bucket=max_bucket, new_bands=batch_bands, **params,
            )
            pair_ids = vs_index.selectExpr("id_a AS doc_id").union(
                vs_index.selectExpr("id_b AS doc_id")
            )
            arriving = pair_ids.join(
                F.broadcast(batch.select("doc_id")), "doc_id", "left_semi"
            )
            drop = drop.union(arriving)
        return batch.join(drop.distinct(), "doc_id", "left_anti")

    return Stage("near_dup", fn, pin=pin)


# ------------------------------------------------------------ the CLI chain


def _parse_bands(spec):
    if not spec:
        return None
    bands = {b.strip() for b in spec.split(",") if b.strip()}
    if not bands or bands - {"head", "middle", "tail"}:
        raise SystemExit(f"--ce-bands: want a comma list from head,middle,tail — got {spec!r}")
    return bands


def _parse_splits(spec):
    if not spec:
        return None
    fracs: dict[str, float] = {}
    for part in spec.split(","):
        name, eq, frac = part.partition("=")
        name = name.strip()
        try:
            value = float(frac)
        except ValueError:
            value = None
        if not eq or not name or value is None:
            raise SystemExit(
                f"--splits: bad spec {part!r} (want name=fraction, "
                f"e.g. 'train=0.9,val=0.05,test=0.05')"
            )
        if name in fracs:
            raise SystemExit(f"--splits: duplicate split name {name!r}")
        fracs[name] = value
    return fracs


def _near_dup_stage(args, spark) -> Stage:
    """Near-dup clusters → keep the best-quality member per cluster.
    Pairs are MinHash star edges by default, MinHash candidate pairs
    under --confirm-embeddings, or tfidf-vector cosine pairs under
    --pair-source semantic; --confirm-embeddings then keeps only pairs
    whose embeddings ALSO score cosine >= --confirm-tau (a pair without
    vector evidence is not confirmed: both docs survive)."""

    def fn(exact):
        if args.pair_source == "semantic":
            from commercepulse_data_pipeline_spark.operators import similarity as sim

            # knn_join_self consumes its corpus three times and the tfidf
            # build is a multi-shuffle lineage: cut it once
            vecs = (
                tx.hashed_doc_vectors(exact, dim=64, weighting="tfidf")
                .select(F.col("doc_id").alias("vec_id"), F.col("vector").alias("embedding"))
                .localCheckpoint(eager=True)
            )
            # 6 planes × 8 tables: paraphrase pairs sit near the threshold,
            # where the default 8 × 4 finds a pair only ~50% of the time
            knn = sim.knn_join_self(
                vecs, k=5, n_planes=6, n_tables=8,
                id_col="vec_id", vec_col="embedding", dim=64,
            )
            pairs = knn.where(
                (F.col("cosine_sim") >= args.semantic_tau)
                & (F.col("query_id") < F.col("neighbor_id"))
            ).select(F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b"))
        elif args.confirm_embeddings:
            pairs = dd.minhash_candidate_pairs(exact, "text", "doc_id")
        else:
            # cluster-only consumer: star edges give identical components
            pairs = dd.minhash_star_edges(exact, "text", "doc_id")
        if args.confirm_embeddings:
            from commercepulse_data_pipeline_spark.operators import similarity as sim

            emb = spark.read.parquet(args.confirm_embeddings)
            pairs = (
                sim.score_pairs(pairs, emb)
                .where(F.col("cosine_sim") >= args.confirm_tau)
                .select("id_a", "id_b")
            )
        clusters = graph.dedup_clusters(pairs).localCheckpoint(eager=True)
        quality = tx.quality_score(exact, "text").select("doc_id", "quality_score")
        keep = graph.keep_best_per_cluster(clusters, quality)
        losers = clusters.join(
            keep.select(F.col("kept_doc_id").alias("doc_id")), "doc_id", "left_anti"
        ).select("doc_id")
        return exact.join(losers, "doc_id", "left_anti")

    return Stage("near_dup", fn)


def clean_corpus_stages(args, get_spark) -> list[Stage]:
    """The ``clean-corpus`` stage table for parsed CLI ``args``.
    ``--ce-bands`` and ``--splits`` are checked before ``get_spark()`` is
    called, and ``--quality-model`` is read and checked before any stage
    runs; each raises SystemExit."""
    keep_bands = _parse_bands(args.ce_bands)
    split_fracs = _parse_splits(args.splits)
    spark = get_spark()
    gate = None
    if args.quality_model:
        try:
            gate = quality_stage(spark, args.quality_model, args.quality_threshold)
        except ValueError as e:
            raise SystemExit(f"--quality-model: {e}") from e

    splice = dict(window_tokens=args.passage_window, min_docs=args.min_passage_docs)
    stages = [html_stage(args.html_col)] if args.html_col else []
    if args.max_dup_line_frac < 1.0 or args.max_top_ngram_frac < 1.0:
        # Gopher-style gate on the RAW text: scrub's line dedup removes
        # exactly the repeats dup_line_frac measures
        stages.append(Stage("repetitive", lambda df: (
            tx.repetition_scores(df, "text")
            .where((F.col("dup_line_frac") <= args.max_dup_line_frac)
                   & (F.col("top_ngram_frac") <= args.max_top_ngram_frac))
            .drop("dup_line_frac", "top_ngram_frac")
        ), pin=False))
    if args.drop_code:
        # raw text too: scrub's redaction would perturb the symbol counts
        stages.append(Stage(
            "code", lambda df: df.where(~tx.code_signals(F.col("text"))["is_code"]), pin=False
        ))
    if args.strip_boilerplate:
        # before dedup, so shared chrome can't fake near-dups
        stages.append(_hollowed(
            "boilerplate_hollowed", lambda df: tx.strip_boilerplate(df, **splice),
            "text_stripped", "n_boiler_windows", args.min_remaining_tokens,
        ))
    if args.strip_repeats:
        stages.append(strip_repeats_stage(
            args.passage_window, args.min_repeats, args.min_remaining_tokens
        ))
    stages += [scrub_stage(), exact_dedup_stage(), _near_dup_stage(args, spark)]
    if args.passage_dedup:
        stages.append(_hollowed(
            "passage_hollowed", lambda df: tx.dedup_passages(df, **splice),
            "text_deduped", "n_dup_windows", args.min_remaining_tokens,
        ))
    if args.dsir_target:
        stages.append(_keep_ids("not_dsir_selected", lambda df: (
            sampling.dsir_importance(
                df.select("doc_id", "text"),
                spark.read.parquet(args.dsir_target).select("text"),
            )
            .orderBy(F.col("dsir_logratio").desc(), F.col("doc_id").asc())
            .limit(args.dsir_top_k)
            .select("doc_id")
        ), broadcast=True))
    if keep_bands:
        # a doc has a CE row exactly when it has a token: the CE operator
        # explodes the same tokens
        stages.append(Stage(
            "no_tokens", lambda df: df.where(F.size(tx.tokens(F.col("text"))) > 0), pin=False
        ))
        stages.append(_keep_ids("ce_band_dropped", lambda df: (
            sampling.score_bands_histogram(
                tx.unigram_cross_entropy(df.select("doc_id", "text"), "text"),
                "bits_per_token",
            )
            .where(F.col("band").isin(*sorted(keep_bands)))
            .select("doc_id")
        )))
    if gate:
        stages.append(gate)
    stages.append(Stage("not_sampled", lambda df: sampling.deterministic_sample(
        df, "doc_id", args.sample_rate, salt=args.salt
    ), pin=False))
    if split_fracs:
        # the split salt MUST differ from the sample's: every sample
        # survivor has bucket < rate·2^32, which would collapse the splits
        stages.append(Stage(None, lambda df: sampling.assign_splits(
            df, "doc_id", split_fracs, salt=args.salt + "split:"
        )))
    stages.append(Stage(
        None, lambda df: df.withColumn("n_tokens", F.size(tx.tokens(F.col("text")))), pin=True
    ))
    return stages
