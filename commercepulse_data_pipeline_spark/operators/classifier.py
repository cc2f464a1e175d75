"""Supervised hashed-feature text classifier — the model-based quality
gate DCLM/FineWeb-class curation pipelines run as their main filter.

Shape: Joulin et al. 2016 ("Bag of Tricks for Efficient Text
Classification" — the public fastText recipe: hashed unigram+bigram
bag-of-features, a linear model over the buckets), trained here as a
binary multinomial Naive Bayes so BOTH train and score are pure
distributed aggregations with exact cross-engine replay — no SGD, no
iteration, no nondeterminism:

    feature(doc)  = word unigrams + adjacent bigrams (bag, not set —
                    the DSIR feature space, operators/sampling.py)
    bucket(f)     = md5-hash(f) mod n_buckets
    weight(b)     = log2 p(b | pos) - log2 p(b | neg)   (add-1 smoothed)
    bias          = log2 (n_pos_docs + 1) / (n_neg_docs + 1)
    score(doc)    = bias + Σ_f weight(bucket(f))        (log-odds)

Cross-engine determinism (the ``dsir_importance`` discipline): every
per-bucket weight is an IEEE log2 of a ratio of exact integers,
quantized to DECIMAL(30,4) BEFORE the per-doc sum, so scores replay
bit-for-bit in any engine that sums decimals exactly; the predicted
label compares the EXACT decimal total against zero (never the rounded
double).

Scale shape: train is ONE feature explode feeding bucket counts with
map-side combine (uniform md5 keys) plus two 1-row total aggregates;
the model is a DENSE ``n_buckets + 1``-row table (kilobytes — unseen
buckets carry the smoothed prior ratio, so scoring needs no
missing-key special case) that BROADCASTS to the scoring join
regardless of corpus size. Score is one explode + one broadcast join +
one per-doc aggregation. No driver collect of anything corpus-sized.

Reference parity note: the reference pipeline has no model-based
filter; this extends its quality gate (transformer.py quality rules)
the way its heuristic twin ``operators/text.py::quality_score`` does.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.expr import let
from commercepulse_data_pipeline_spark.functions.pins import pin
from commercepulse_data_pipeline_spark.operators.sampling import hash_bucket
from commercepulse_data_pipeline_spark.operators.text import token_ngrams, tokens

_MODEL_META = "_nb_model_meta.json"
_BIAS_BUCKET = -1


def hashed_features(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    n_buckets: int = 1024,
    salt: str = "nbq-v1:",
) -> DataFrame:
    """Hashed unigram+bigram feature-bucket rows — the classifier's
    (and DSIR's) feature space: one output row per feature OCCURRENCE
    (bag semantics), columns ``id_cols + [__b]``. The token array is
    let-bound so the bigram lambda never re-tokenizes (the repo-wide
    array-staging rule)."""
    fcol = let(
        tokens(F.col(text_col)),
        lambda t: F.concat(t, token_ngrams(t, 2)),
    )
    cols = [F.col(c) for c in (id_cols or [])]
    return (
        df.select(*cols, F.explode_outer(fcol).alias("__feat"))
        .where(F.col("__feat").isNotNull())
        .withColumn(
            "__b",
            F.pmod(hash_bucket(F.col("__feat"), salt=salt), F.lit(n_buckets))
            .cast("int"),
        )
        .drop("__feat")
    )


def nb_train(
    labeled: DataFrame,
    *,
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = 1024,
    salt: str = "nbq-v1:",
) -> DataFrame:
    """Train the binary NB model distributed. ``labeled`` is
    (id, text, label) rows — label truthy/1 = positive class (e.g.
    curated/high-quality), falsy/0/NULL = negative. Returns the model
    as a ``(bucket int, weight decimal(30,4))`` DataFrame: one dense
    row per feature bucket plus the prior as ``bucket = -1`` —
    kilobytes, persistable with :func:`write_model`, broadcast by
    :func:`nb_score`."""
    spark = labeled.sparkSession
    lab = F.when(
        F.col(label_col).cast("boolean").eqNullSafe(F.lit(True)), F.lit(1)
    ).otherwise(F.lit(0))
    docs = labeled.select(F.col("doc_id"), F.col(text_col), lab.alias("__lab"))

    feats = hashed_features(
        docs, text_col=text_col, id_cols=["__lab"],
        n_buckets=n_buckets, salt=salt,
    )
    counts = pin(
        feats.groupBy("__b").agg(
            F.sum("__lab").cast("long").alias("__cp"),
            (F.count(F.lit(1)) - F.sum("__lab")).cast("long").alias("__cn"),
        ),
        eager=True,
    )
    # ^ counts (<= n_buckets rows) feeds BOTH the totals and the dense
    # weight join; without the cut the corpus-wide feature explode in
    # its lineage runs twice (no subplan sharing across DataFrame
    # branches — the dsir_importance/unigram_cross_entropy finding).
    # EAGER deliberately: the model fans out into multiple independent
    # broadcast builds (weights + bias in nb_score), which Spark submits
    # concurrently — a lazy pin could race them into computing the
    # explode twice anyway (r15 optimization pass rule: lazy only when
    # ONE sequential consumer materializes first).
    return _binary_model_from_counts(spark, counts, docs, n_buckets)


def _binary_model_from_counts(
    spark: SparkSession, counts: DataFrame, docs: DataFrame, n_buckets: int
) -> DataFrame:
    """Shared model assembly for :func:`nb_train` /
    :func:`nb_train_on_features`: dense smoothed log2-ratio weights from
    the pinned per-bucket (pos, neg) counts plus the ``bucket = -1``
    prior row from the DOC-level label frame (``docs`` needs a ``__lab``
    0/1 column; the prior is never derivable from feature rows — a
    zero-token doc counts toward it but emits no features)."""
    tots = counts.agg(
        F.coalesce(F.sum("__cp"), F.lit(0)).alias("__tp"),
        F.coalesce(F.sum("__cn"), F.lit(0)).alias("__tn"),
    )
    dense = (
        spark.range(n_buckets)
        .select(F.col("id").cast("int").alias("bucket"))
        .join(counts, F.col("bucket") == F.col("__b"), "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            (
                F.log2(
                    (F.coalesce(F.col("__cp"), F.lit(0)) + 1)
                    / (F.col("__tp") + n_buckets).cast("double")
                )
                - F.log2(
                    (F.coalesce(F.col("__cn"), F.lit(0)) + 1)
                    / (F.col("__tn") + n_buckets).cast("double")
                )
            )
            .cast("decimal(30,4)")
            .alias("weight"),
        )
    )
    prior = docs.agg(
        F.coalesce(F.sum("__lab"), F.lit(0)).alias("__np"),
        F.coalesce(F.count(F.lit(1)) - F.sum("__lab"), F.lit(0)).alias("__nn"),
    ).select(
        F.lit(_BIAS_BUCKET).cast("int").alias("bucket"),
        (F.log2((F.col("__np") + 1) / (F.col("__nn") + 1).cast("double")))
        .cast("decimal(30,4)")
        .alias("weight"),
    )
    return dense.unionByName(prior)


def nb_train_on_features(
    feats: DataFrame,
    labeled_docs: DataFrame,
    *,
    n_buckets: int = 1024,
) -> DataFrame:
    """Train the binary NB model from a PRE-BUILT hashed-feature frame —
    the shared-explode form (r16, VERDICT r15 item 7). Use it when the
    training rows are a SUBSET of a corpus that will also be scored:
    build :func:`hashed_features` ONCE over the corpus (id + label among
    ``id_cols``), lineage-cut it (functions/pins.py::pin), filter the
    training slice down for this function and hand the same frame to
    ``nb_score(feats=)`` — the corpus text is tokenized + md5-hashed
    exactly once instead of 1.5× (train half + full-corpus score).

    ``feats``: hashed_features output restricted to the TRAINING rows,
    carrying ``label`` (truthy/1 = positive) and ``__b``.
    ``labeled_docs``: the doc-LEVEL (…, label) frame the prior
    counts come from. ``n_buckets`` must match the feats build (it also
    enters the smoothing denominator). Output and arithmetic are
    bit-identical to :func:`nb_train` on the same training rows.

    Scale note: the shared form trades executor STORAGE (the pinned
    feature frame, two ints per feature occurrence) for the saved
    tokenize+hash pass; when executor storage is the binding constraint
    prefer the reliable pin policy or the plain per-stage
    :func:`nb_train`/:func:`nb_score` composition."""
    spark = feats.sparkSession
    lab = F.when(
        F.col("label").cast("boolean").eqNullSafe(F.lit(True)), F.lit(1)
    ).otherwise(F.lit(0))
    f = feats.select(lab.alias("__lab"), F.col("__b"))
    docs = labeled_docs.select(lab.alias("__lab"))
    counts = pin(
        f.groupBy("__b").agg(
            F.sum("__lab").cast("long").alias("__cp"),
            (F.count(F.lit(1)) - F.sum("__lab")).cast("long").alias("__cn"),
        ),
        eager=True,
    )
    # eager for the nb_train reason: the model fans into concurrent
    # broadcast builds (and this materialization is also what realizes a
    # caller's lazy-pinned shared feature frame)
    return _binary_model_from_counts(spark, counts, docs, n_buckets)


def nb_score(
    df: DataFrame,
    model: DataFrame,
    *,
    n_buckets: int = 1024,
    salt: str = "nbq-v1:",
    feats: DataFrame | None = None,
) -> DataFrame:
    """Score every document under a trained model (``n_buckets``/``salt``
    MUST match training — :func:`read_model` returns them). Returns one
    row per input doc: (doc_id, n_feats, nb_logodds double rounded 4dp,
    predicted int 0/1). Zero-feature docs score the prior alone; the
    prediction compares the EXACT decimal total with zero.

    ``feats``: a PRE-BUILT hashed-feature frame for ``df``'s rows
    (columns ``doc_id``, ``__b`` — see :func:`nb_train_on_features` for
    the shared-explode pattern); when given, ``text``/``salt`` are
    unused and ``df`` only supplies the id list (so zero-feature docs
    still score the prior)."""
    if feats is None:
        feats = hashed_features(
            df, id_cols=["doc_id"],
            n_buckets=n_buckets, salt=salt,
        )
    w = model.where(F.col("bucket") >= 0)
    bias = model.where(F.col("bucket") == _BIAS_BUCKET).select(
        F.col("weight").alias("__bias")
    )
    sums = (
        feats.join(F.broadcast(w), feats["__b"] == w["bucket"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__nf"),
            F.sum("weight").alias("__sw"),
        )
    )
    zero = F.lit(0).cast("decimal(30,4)")
    total = F.coalesce(F.col("__sw"), zero) + F.col("__bias")
    return (
        df.select("doc_id")
        .join(sums, "doc_id", "left")
        .crossJoin(F.broadcast(bias))
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("__nf"), F.lit(0)).cast("long").alias("n_feats"),
            F.round(total.cast("double"), 4).alias("nb_logodds"),
            F.when(total > 0, F.lit(1)).otherwise(F.lit(0))
            .cast("int")
            .alias("predicted"),
        )
    )


def nb_train_multiclass(
    labeled: DataFrame,
    *,
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = 1024,
    salt: str = "nbq-v1:",
) -> DataFrame:
    """Multiclass sibling of :func:`nb_train` — the domain / language
    classifier shape (route docs, balance corpus mixtures): one NB
    model per class over the SAME hashed feature space, still pure
    distributed aggregation. Rows with a NULL label are ignored.
    Returns ``(label string, bucket int, weight decimal(30,4))`` —
    a DENSE ``K x n_buckets`` weight table plus one ``bucket = -1``
    prior row per class (prior = log2 (n_class + 1) / (n_docs + K),
    add-1 over the K classes); K·n_buckets rows total — kilobytes,
    broadcast by :func:`nb_score_multiclass`."""
    spark = labeled.sparkSession
    docs = labeled.where(F.col(label_col).isNotNull()).select(
        F.col("doc_id"), F.col(text_col),
        F.col(label_col).cast("string").alias("__lab"),
    )
    feats = hashed_features(
        docs, text_col=text_col, id_cols=["__lab"],
        n_buckets=n_buckets, salt=salt,
    )
    counts = pin(
        feats.groupBy("__lab", "__b").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        ),
        eager=True,
    )
    # ^ feeds the per-class totals AND the dense join (the nb_train cut;
    # eager for the same concurrent-broadcast-race reason)
    tots = counts.groupBy("__lab").agg(F.sum("__c").alias("__t"))
    # Per-class DOC counts, pinned: the label set, the class count K and
    # the priors all derive from this ONE K-row table instead of three
    # separate corpus scans (labels distinct + nd aggregate + priors
    # groupBy — r16 optimization pass, VERDICT r15 item 4). Deriving
    # labels from DOC counts (not the feature-bucket `counts` table) is
    # exact even for a class whose every doc has zero tokens: such a
    # class has doc rows but no feature rows. EAGER for the same
    # concurrent-broadcast reason as `counts` (the grid build and the
    # priors are independent consumers).
    cls = pin(
        docs.groupBy("__lab").agg(F.count(F.lit(1)).alias("__nc")),
        eager=True,
    )
    labels = cls.select(F.col("__lab").alias("label"))
    buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    grid = labels.crossJoin(buckets)
    dense = (
        grid.join(
            counts,
            (grid["label"] == counts["__lab"]) & (grid["bucket"] == counts["__b"]),
            "left",
        )
        .drop("__lab", "__b")
        .join(
            F.broadcast(tots.select(F.col("__lab").alias("label"), "__t")),
            "label",
            "left",
        )
        .select(
            "label",
            "bucket",
            F.log2(
                (F.coalesce(F.col("__c"), F.lit(0)) + 1)
                / (F.coalesce(F.col("__t"), F.lit(0)) + n_buckets).cast("double")
            )
            .cast("decimal(30,4)")
            .alias("weight"),
        )
    )
    nd = cls.agg(
        F.sum("__nc").alias("__n"),
        F.count(F.lit(1)).alias("__k"),
    )
    priors = (
        cls
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("__lab").alias("label"),
            F.lit(_BIAS_BUCKET).cast("int").alias("bucket"),
            F.log2((F.col("__nc") + 1) / (F.col("__n") + F.col("__k")).cast("double"))
            .cast("decimal(30,4)")
            .alias("weight"),
        )
    )
    return dense.unionByName(priors)


def nb_score_multiclass(
    df: DataFrame,
    model: DataFrame,
    *,
    n_buckets: int = 1024,
) -> DataFrame:
    """Score every doc under a multiclass model: per-class log score =
    class prior + Σ_f weight(class, bucket(f)), argmax over classes
    with the deterministic tie-break (greatest exact decimal score,
    then LEXICOGRAPHICALLY GREATEST label — the ``detect_language``
    argmax convention). Returns (doc_id, predicted_label, score double
    4dp, n_feats); zero-feature docs get the prior argmax. One feature
    explode + one broadcast join (K rows per feature) + one (doc,
    class)-keyed aggregation — no corpus-sized state anywhere."""
    feats = hashed_features(
        df, id_cols=["doc_id"], n_buckets=n_buckets,
    )
    w = model.where(F.col("bucket") >= 0)
    bias = model.where(F.col("bucket") == _BIAS_BUCKET).select(
        "label", F.col("weight").alias("__bias")
    )
    per = (
        feats.join(F.broadcast(w), feats["__b"] == w["bucket"])
        .groupBy("doc_id", "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__nf"),
            F.sum("weight").alias("__sw"),
        )
    )
    zero = F.lit(0).cast("decimal(30,4)")
    total = F.coalesce(F.col("__sw"), zero) + F.col("__bias")
    best = (
        df.select("doc_id")
        .crossJoin(F.broadcast(bias))
        .join(per, ["doc_id", "label"], "left")
        .groupBy("doc_id")
        .agg(
            F.max(
                F.struct(
                    total.alias("s"),
                    F.col("label").alias("lab"),
                    F.coalesce(F.col("__nf"), F.lit(0)).alias("nf"),
                )
            ).alias("b")
        )
    )
    return best.select(
        F.col("doc_id"),
        F.col("b.lab").alias("predicted_label"),
        F.round(F.col("b.s").cast("double"), 4).alias("score"),
        F.col("b.nf").cast("long").alias("n_feats"),
    )


def write_model(
    model: DataFrame,
    path: str,
    *,
    n_buckets: int,
    salt: str,
    kind: str = "nb-binary-v1",
    provenance: dict | None = None,
) -> None:
    """Persist the model parquet plus a JSON meta sidecar recording the
    feature-space parameters scoring must reuse (the cluster-table
    artifact discipline: the artifact carries its own contract).
    ``kind`` distinguishes the binary quality gate ("nb-binary-v1")
    from the multiclass router ("nb-multiclass-v1") so a consumer can
    refuse the wrong shape instead of mis-scoring."""
    model.write.mode("overwrite").parquet(path)
    meta = {"n_buckets": int(n_buckets), "salt": salt, "kind": kind}
    meta.update(provenance or {})
    with open(os.path.join(path, _MODEL_META), "w") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)


def read_model(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a persisted model and its meta; raises if the sidecar is
    missing or the schema isn't the pinned (bucket, weight) shape."""
    meta_path = os.path.join(path, _MODEL_META)
    if not os.path.exists(meta_path):
        raise ValueError(f"not an nb model artifact (missing {_MODEL_META}): {path}")
    with open(meta_path) as fh:
        meta = json.load(fh)
    model = spark.read.parquet(path)
    want = {
        "nb-binary-v1": {"bucket", "weight"},
        "nb-multiclass-v1": {"label", "bucket", "weight"},
    }.get(meta.get("kind"), {"bucket", "weight"})
    if set(model.columns) != want:
        raise ValueError(
            f"nb model at {path} has columns {sorted(model.columns)}, want {sorted(want)}"
        )
    return model, meta
