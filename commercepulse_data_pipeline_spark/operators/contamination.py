"""Benchmark decontamination — flag training docs that leak evaluation
data (extension tier; a first-class step of any LLM training-data
pipeline, next to dedup and quality filtering).

The standard check is n-gram overlap: a corpus document is contaminated to
the degree its word shingles also appear in the evaluation/benchmark set.
Distributed shape:

- the PROBE side (benchmarks) is small by construction → its distinct
  shingle vocabulary broadcasts; the corpus side never shuffles for the
  membership test (broadcast left-semi join, plan-asserted in tests);
- per-doc shingle sets come from one explode; the per-doc set SIZE is a
  pure projection of the same (distinct) shingle array — no second
  explode (same lesson as ngram_jaccard_pairs);
- output is one row per corpus doc with hit count and overlap ratio —
  filter at whatever threshold the pipeline's policy sets.

At 100 TB the corpus side is a single explode + one aggregation on the
doc id (uniform); if the probe vocabulary ever outgrows broadcast range,
the same plan degrades gracefully to a shuffled semi-join on the shingle
(uniform md5-ish text keys, no skew).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.dedup import (
    _shingle_rows,
    _shingle_set_sizes,
)
from commercepulse_data_pipeline_spark.operators.text import (
    rolling_fingerprints,
    splice_windows,
    window_occurrences,
)


def ngram_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-corpus-doc overlap against the probe set's shingle vocabulary.

    Returns (id_col, set_size, hits, contamination) where ``contamination``
    = hits / set_size over the doc's DISTINCT shingles. Docs too short to
    have any word 3-gram are omitted (no denominator). Probes and corpus
    both read ``text_col``.
    """
    probe_vocab = F.broadcast(
        _shingle_rows(probes, [], text_col, 3, "shingle").distinct()
    )
    hits = (
        _shingle_rows(corpus, [id_col], text_col, 3, "shingle")
        .join(probe_vocab, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        _shingle_set_sizes(corpus, id_col, text_col, 3)
        .join(hits, id_col, "left")
        .select(
            id_col,
            "set_size",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("set_size"), 6
            ).alias("contamination"),
        )
    )


def scrub_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    window_tokens: int = 8,
) -> DataFrame:
    """Decontamination CORRECTION (the acting sibling of
    :func:`ngram_contamination`, same detect→correct symmetry as
    ``text.dedup_passages`` → ``docs_shared_passages``): REWRITE corpus
    documents by splicing out every token covered by a
    ``window_tokens``-token window whose fingerprint appears anywhere in
    the probe (benchmark/eval) set. Unlike passage dedup there is NO
    canonical survivor — evaluation text must not appear in training
    data at all, so every hit is removed.

    Returns the corpus columns plus ``text_scrubbed``, ``n_tokens``,
    ``n_tokens_removed`` and ``n_probe_windows`` (contaminated windows in
    the doc). Filter/drop on the counts per pipeline policy.

    Scale shape: the probe side is small by construction → its distinct
    window-fingerprint vocabulary broadcasts, and the corpus-side
    membership test is a broadcast semi-join on the exploded (doc, pos,
    fp) rows — corpus text never moves for detection. The only
    corpus-sized shuffle is the final doc-keyed join of the (typically
    tiny) contaminated-position lists back onto the text; pre-bucket the
    corpus by ``doc_id`` to co-locate it. Occurrences and the splice go
    through the shared ``text.window_occurrences`` /
    ``text.splice_windows`` routine, like ``dedup_passages``."""
    probe_vocab = F.broadcast(
        probes.select(
            F.explode_outer(
                rolling_fingerprints(F.col("text"), window_tokens)
            ).alias("__fp")
        )
        .where(F.col("__fp").isNotNull())
        .distinct()
    )
    staged, occ = window_occurrences(
        corpus, doc_col="doc_id", text_col="text", window_tokens=window_tokens
    )
    return splice_windows(
        staged,
        occ.join(probe_vocab, "__fp", "left_semi"),
        doc_col="doc_id", window_tokens=window_tokens, keep=corpus.columns,
        text_out="text_scrubbed", windows_out="n_probe_windows",
    )
