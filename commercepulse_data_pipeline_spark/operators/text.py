"""Text analysis operators for training-data curation.

All pure Catalyst expressions (split/filter/aggregate higher-order
functions) — no Python UDFs, so every metric is computed inside
whole-stage codegen during the scan: at 100 TB these run at parquet-read
speed with zero shuffles (per-document metrics are embarrassingly
parallel).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.expr import let
from commercepulse_data_pipeline_spark.functions.pins import pin

# Tiny in-expression stopword lists per language — enough for a language-ID
# heuristic without external models (none are available in this container).
_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "por", "con"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "für", "auf"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "que", "pour"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def bpe_ish_tokens(text: Column) -> Column:
    """Sub-word-ish tokenization: split on whitespace AND punctuation AND
    letter/digit boundaries — a cheap regex approximation of BPE pre-token
    counts used for budget estimation.

    Boundary splits are two backreference replaces (not lookarounds) so
    the same tokenization is expressible in RE2-based engines (DuckDB
    oracle parity)."""
    s = F.lower(text)
    s = F.regexp_replace(s, r"(\p{L})(\p{N})", r"$1 $2")
    s = F.regexp_replace(s, r"(\p{N})(\p{L})", r"$1 $2")
    return F.filter(F.split(s, r"[^\p{L}\p{N}]+"), lambda t: t != "")


def token_ngrams(toks: Column, n: int) -> Column:
    """Space-joined token n-grams; empty array when the document has
    fewer than ``n`` tokens. ``toks`` is let-bound
    (``functions/expr.py::let``) so the per-offset lambda references a
    variable even when a caller passes a full tokenization expression or
    the optimizer re-inlines a staged column into a pushed-down filter —
    either would otherwise re-evaluate ``toks`` once per offset."""

    def body(t: Column) -> Column:
        n_grams = F.size(t) - F.lit(n - 1)
        gram_at = lambda i: F.array_join(F.slice(t, i + 1, n), " ")  # noqa: E731
        return F.when(
            n_grams > 0,
            F.transform(F.sequence(F.lit(0), n_grams - 1), gram_at),
        ).otherwise(F.array().cast("array<string>"))

    return let(toks, body)


def rle_counts(srt: Column) -> Column:
    """Run-length (value, cnt) pairs over a SORTED string array (NULL
    elements are counted as their own run — the boundary test is
    null-safe) — the
    array-side "group by" that turns per-document counting into a pure
    projection. Boundary detection via filtered index positions, then
    ``zip_with`` against the shifted boundary list: O(n) after the sort,
    no per-step array copies (an ``aggregate`` fold appending to an array
    accumulator would copy the accumulator per element — O(n²)).

    ``srt`` and the boundary list are let-bound
    (``functions/expr.py::let``): the per-element ``element_at`` lookups
    would otherwise re-evaluate the full sorted-array expression per
    element — O(n²·log n) — whenever the optimizer re-inlines it (e.g. an
    explode's inferred filter; measured as a hang on a 5000-doc
    partition)."""

    def body(s: Column) -> Column:
        n = F.size(s)

        def with_starts(starts: Column) -> Column:
            ends = F.concat(
                F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
                F.array(n),
            )
            return F.zip_with(
                starts,
                ends,
                lambda st, e: F.struct(
                    F.element_at(s, st + 1).alias("value"),
                    (e - st).cast("long").alias("cnt"),
                ),
            )

        pairs = let(
            F.filter(
                F.sequence(F.lit(0), n - 1),
                # null-SAFE boundary test: with plain !=, a value→NULL
                # transition compares to NULL, the boundary is dropped,
                # and the trailing NULL run silently inflates the
                # preceding value's count
                lambda i: (i == 0)
                | ~F.element_at(s, i + 1).eqNullSafe(F.element_at(s, i)),
            ),
            with_starts,
        )
        # guard BEFORE building: sequence(0, -1) on an empty array would
        # step DOWNWARD ([0, -1]) and zip_with would pad a null pair
        return F.when(n > 0, pairs).otherwise(
            F.array().cast("array<struct<value:string,cnt:bigint>>")
        )

    return let(srt, body)


def ngram_doc_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, ngram_n: int = 2
) -> DataFrame:
    """One row per (document, distinct n-gram) with its within-doc
    occurrence count — the map-side stage of corpus vocabulary statistics.
    The per-doc counting happens ARRAY-SIDE (sorted runs via
    ``rle_counts``), so what explodes is distinct grams per document, not
    raw occurrences — the shuffle volume a boilerplate-heavy corpus would
    otherwise multiply."""
    staged = (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .withColumn("__grams", token_ngrams(F.col("__toks"), ngram_n))
        .withColumn("__gsort", F.array_sort(F.col("__grams")))
        .withColumn("__rle", rle_counts(F.col("__gsort")))
    )
    # explode_OUTER + null-filter, NOT plain explode: InferFiltersFromGenerate
    # would push a size(__rle)>0 predicate BELOW the staged projections,
    # re-inlining the whole expression tree into the Filter — and there
    # element_at(array_sort(...), i) re-expands the sort per ARRAY ELEMENT,
    # turning a linear scan into O(tokens²·log) per document (measured: hung
    # a 5000-doc partition). The outer generate infers no filter; empty-gram
    # docs surface one null pair dropped right after the Generate.
    return (
        staged.select(F.col(id_col), F.explode_outer(F.col("__rle")).alias("__p"))
        .where(F.col("__p").isNotNull())
        .select(id_col, F.col("__p.value").alias("gram"), F.col("__p.cnt").alias("cnt"))
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    ngram_n: int = 2,
    k: int = 100,
) -> DataFrame:
    """Global top-k most frequent token n-grams with corpus occurrence and
    document-frequency counts — the vocabulary statistic that FEEDS the
    stop-shingle caps (``max_shingle_freq`` in ``ngram_jaccard_pairs``,
    ``max_bucket`` in the LSH operators) and Gopher-style corpus audits.

    Scale shape: per-doc counts are computed array-side (pure codegen, see
    ``ngram_doc_counts``), then ONE gram-keyed aggregation — partial
    (map-side) combine applies because sum/count are algebraic — and the
    top-k is a TakeOrdered (per-partition heap + driver merge of k rows,
    never a global sort materialization). Uniformly hashed shuffle keys;
    a skewed boilerplate gram is a single (gram, partial-count) row per
    map task, not a row per occurrence. Fully deterministic ordering
    (count desc, doc-freq desc, gram asc) so the k-boundary is stable
    cross-engine."""
    counts = ngram_doc_counts(df, text_col, id_col, ngram_n=ngram_n)
    return (
        counts.groupBy("gram")
        .agg(
            F.sum("cnt").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy(
            F.col("n_occurrences").desc(), F.col("n_docs").desc(), F.col("gram").asc()
        )
        .limit(k)
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-document text statistics columns.

    The token array is materialized in its OWN projection before the
    metrics reference it: inlining `tokens(t)` into every metric makes
    Catalyst re-expand (and re-execute) the split per mention — measured
    ~14× slower at sf0.1. CollapseProject keeps the boundary because the
    array is non-cheap and multi-referenced.
    """
    staged = df.withColumn("__toks", tokens(F.col(text_col)))
    toks = F.col("__toks")
    n_tok = F.size(toks)
    return (
        staged.withColumn("n_chars_calc", F.length(F.col(text_col)))
        .withColumn("n_tokens", n_tok)
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn(
            "mean_token_len",
            F.when(
                n_tok > 0,
                F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double") / n_tok,
            ),
        )
        .drop("__toks")
    )


def quality_score(
    df: DataFrame, text_col: str = "text", *, n_tokens_col: str | None = None
) -> DataFrame:
    """Heuristic document quality in [0,1]: combines length band, lexical
    diversity, mean word length band, and alpha ratio. The exact formula is
    arbitrary (as all quality heuristics are); what matters at scale is
    that it's a single codegen'd projection. Pass ``n_tokens_col`` to also
    emit the token count from the SAME staged token array — callers that
    need both would otherwise tokenize every document twice (HOF subtrees
    are not subexpression-eliminated; r12 review finding)."""
    df = df.withColumn("__toks", tokens(F.col(text_col)))  # staged once (see with_text_stats)
    t = F.col(text_col)
    toks = F.col("__toks")
    n_tok = F.size(toks).cast("double")
    distinct_ratio = F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        F.length(t) > 0,
        F.length(F.regexp_replace(t, r"[^\p{L}]", "")) / F.length(t).cast("double"),
    ).otherwise(F.lit(0.0))
    len_band = F.when((n_tok >= 20) & (n_tok <= 10000), F.lit(1.0)).when(
        n_tok > 0, F.lit(0.5)
    ).otherwise(F.lit(0.0))
    mean_len = F.when(
        n_tok > 0, F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)) / n_tok
    ).otherwise(F.lit(0.0))
    word_band = F.when((mean_len >= 3.0) & (mean_len <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (distinct_ratio + alpha_ratio + len_band + word_band) / F.lit(4.0)
    out = df.withColumn("quality_score", F.round(score, 6))
    if n_tokens_col is not None:
        out = out.withColumn(n_tokens_col, F.size(F.col("__toks")).cast("long"))
    return out.drop("__toks")


def language_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratio (the n-gram-free language-ID
    heuristic): fraction of tokens that are stopwords of each language.
    ``toks`` should be an already-materialized token array column."""
    n = F.size(toks)
    out = {}
    for lang, words in _STOPWORDS.items():
        hits = F.size(F.filter(toks, lambda x: x.isin(*words)))
        out[lang] = F.when(n > 0, hits / n.cast("double")).otherwise(F.lit(0.0))
    return out


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """argmax over language_scores; 'und' when no stopwords hit at all."""
    staged = df.withColumn("__toks", tokens(F.col(text_col)))  # staged once
    scores = language_scores(F.col("__toks"))
    pairs = F.array(*[
        F.struct(s.alias("score"), F.lit(lang).alias("lang")) for lang, s in scores.items()
    ])
    best = F.array_max(pairs)
    return (
        staged.withColumn(
            "detected_lang",
            F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
        )
        .withColumn("lang_score", F.round(best["score"], 6))
        .drop("__toks")
    )


def rolling_fingerprints(text: Column, window_tokens: int = 8) -> Column:
    """Rolling content fingerprints: md5 of each ``window_tokens``-token
    window (array<string>). Basis for containment/plagiarism detection —
    explode + groupBy(fingerprint) finds cross-document shared passages
    with one uniform shuffle."""
    # token_ngrams is the ONE guarded n-gram builder (let-bound: an
    # inline token array would be re-tokenized once per window offset —
    # O(tokens²) per document); this just md5s each window
    return F.transform(token_ngrams(tokens(text), window_tokens), lambda g: F.md5(g))


def splice_covered_tokens(
    toks: Column, dup_pos: Column, window_tokens: int
) -> Column:
    """struct(kept_text, n_kept): drop every token covered by at least
    one ``window_tokens``-wide window starting at a position in
    ``dup_pos`` (0-based), survivors space-joined. THE single definition
    of the splice arithmetic; its one caller is :func:`splice_windows`,
    through which every window-splice operator (batch and streaming)
    rewrites its text — one place to change the coverage predicate, so
    batch and streaming rewrites cannot silently diverge. ``dup_pos`` is
    let-bound by the caller (it is referenced once per token)."""
    kept = F.filter(
        toks,
        lambda _t, i: ~F.exists(
            dup_pos, lambda p: (p <= i) & (i < p + F.lit(window_tokens))
        ),
    )
    return F.struct(
        F.array_join(kept, " ").alias("kept_text"),
        F.size(kept).alias("n_kept"),
    )


def window_occurrences(
    df: DataFrame,
    *,
    doc_col: str,
    text_col: str,
    window_tokens: int,
    scope_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """First half of every window-splice operator: ``(staged, occ)``,
    ``staged`` = ``df`` + its ``__toks`` array (tokenized once), ``occ``
    = one ``(__doc[, __scope], __pos, __fp)`` row per
    ``window_tokens``-token window (``__fp`` = md5 of the space-joined
    window, as :func:`rolling_fingerprints`). Text never travels through
    ``occ``; each operator's rule turns it into the ``(__doc, __pos)``
    duplicate rows :func:`splice_windows` takes."""
    staged = df.withColumn("__toks", tokens(F.col(text_col)))
    fps = F.transform(
        token_ngrams(F.col("__toks"), window_tokens), lambda g: F.md5(g)
    )
    scope = [] if scope_col is None else [F.col(scope_col).alias("__scope")]
    exploded = staged.select(F.col(doc_col).alias("__doc"), *scope, F.posexplode(fps))
    occ = exploded.select(
        *exploded.columns[:-2],  # __doc[, __scope]
        F.col("pos").cast("int").alias("__pos"),
        F.col("col").alias("__fp"),
    )
    return staged, occ


def splice_windows(
    staged: DataFrame,
    dup_windows: DataFrame,
    *,
    doc_col: str,
    window_tokens: int,
    keep: list[str],
    text_out: str,
    windows_out: str | None = None,
) -> DataFrame:
    """Second half of every window-splice operator: collect the
    ``(__doc, __pos)`` ``dup_windows`` rows per doc, left-join those
    (typically tiny) lists onto ``staged`` — the one corpus-sized
    shuffle; pre-bucket by ``doc_col`` to co-locate it — and splice with
    :func:`splice_covered_tokens`. Returns ``keep``, the rewritten text
    as ``text_out`` and ``n_tokens_removed``; with ``windows_out`` (the
    batch operators) also ``n_tokens`` and the doc's duplicate-window
    count under that name."""
    dup_lists = dup_windows.groupBy("__doc").agg(
        F.array_sort(F.collect_set("__pos")).alias("__dup_pos")
    )
    joined = staged.join(
        dup_lists, staged[doc_col] == dup_lists["__doc"], "left"
    ).drop("__doc")
    dup_pos = F.coalesce(F.col("__dup_pos"), F.array().cast("array<int>"))
    out = joined.withColumn(
        "__spliced",
        let(dup_pos, lambda dp: splice_covered_tokens(F.col("__toks"), dp, window_tokens)),
    )
    removed = (F.size("__toks") - F.col("__spliced.n_kept")).alias("n_tokens_removed")
    counts = [removed] if windows_out is None else [
        F.size("__toks").alias("n_tokens"), removed, F.size(dup_pos).alias(windows_out)
    ]
    return out.select(*keep, F.col("__spliced.kept_text").alias(text_out), *counts)


def dedup_passages(
    df: DataFrame,
    *,
    doc_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level dedup CORRECTION (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" pass):
    REWRITE documents by splicing out passages duplicated across the
    corpus, keeping exactly one canonical occurrence. Detection alone
    (``docs_shared_passages``) tells you syndicated boilerplate exists;
    this acts on it — the pass a training pipeline runs between detection
    and tokenization.

    Semantics (deterministic, engine-replayable):

    - A *window* is ``window_tokens`` consecutive whitespace tokens; its
      fingerprint is the md5 of the space-joined window (same family as
      :func:`rolling_fingerprints` / ``docs_shared_passages``).
    - A fingerprint is *duplicated* when it occurs in ≥ ``min_docs``
      DISTINCT documents.
    - The *canonical* occurrence of a duplicated fingerprint is the
      lexicographically smallest ``(doc_id, position)`` — it survives;
      every other occurrence (cross-doc AND same-doc repeats) is a
      duplicate window.
    - A token is removed iff it is covered by at least one duplicate
      window in its document; the rewritten text is the surviving tokens
      joined by single spaces (a token-stream rewrite — original
      whitespace is normalized, the same contract as tokenization).

    Returns the input columns plus ``text_deduped``, ``n_tokens``,
    ``n_tokens_removed`` and ``n_dup_windows``.

    Scale shape: document text NEVER travels through the fingerprint
    side — only (doc, pos, fp) occurrence rows shuffle (uniform md5
    keys: one groupBy for the duplicate/canonical decision, one fp
    equi-join back, one per-doc position collect, bounded by windows per
    doc). The single corpus-side shuffle is the final doc-keyed join of
    the small duplicate-position lists onto the text; pre-bucket the
    corpus by ``doc_col`` (``DataFrameWriter.bucketBy``) and that join
    is co-located too. The splice itself is a pure codegen projection —
    per-token coverage tests against the per-doc duplicate-position
    array (O(tokens × dup-windows-in-doc); dup lists are empty for the
    typical document)."""
    staged, occ = window_occurrences(
        df, doc_col=doc_col, text_col=text_col, window_tokens=window_tokens
    )
    # one fp-keyed agg decides BOTH questions: is the fingerprint shared
    # across enough distinct docs, and which occurrence is canonical
    stats = occ.groupBy("__fp").agg(
        F.countDistinct("__doc").alias("__n_docs"),
        F.min(F.struct("__doc", "__pos")).alias("__canon"),
    )
    dup_windows = (
        occ.join(
            stats.where(F.col("__n_docs") >= min_docs), "__fp"
        )
        .where(
            (F.col("__doc") != F.col("__canon.__doc"))
            | (F.col("__pos") != F.col("__canon.__pos"))
        )
        .select("__doc", "__pos")
    )
    return splice_windows(
        staged, dup_windows, doc_col=doc_col, window_tokens=window_tokens,
        keep=df.columns, text_out="text_deduped", windows_out="n_dup_windows",
    )


def strip_boilerplate(
    df: DataFrame,
    *,
    doc_col: str = "doc_id",
    text_col: str = "text",
    scope_col: str = "source",
    window_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-source template/boilerplate REMOVAL — the CCNet/CC-pipeline
    counterpart to :func:`dedup_passages`: a ``window_tokens``-token
    passage that recurs across ≥ ``min_docs`` distinct documents OF THE
    SAME ``scope_col`` group (a crawl domain, a feed, a mirror) is
    template chrome — nav bars, footers, cookie banners, syndication
    blurbs — and is spliced out of EVERY occurrence. Two deliberate
    differences from ``dedup_passages``:

    - counts are scoped to (scope, fingerprint), not global: a passage
      legitimately shared across different sources (a quotation) is NOT
      boilerplate, while a within-domain template trips the threshold
      without polluting other sources' counts;
    - NO canonical survivor: template text is not content anywhere, so
      unlike dedup (which preserves exactly one copy for the training
      set) every covered token goes.

    Returns the input columns plus ``text_stripped``, ``n_tokens``,
    ``n_tokens_removed`` and ``n_boiler_windows``.

    Scale shape is dedup_passages' with the fingerprint key widened to
    (scope, fp): text never shuffles through the fingerprint side, one
    (scope, fp)-keyed agg decides boilerplate, one equi-join back, one
    per-doc position collect, and the splice is a pure codegen
    projection. The scoped key is MORE uniform than the global one (a
    passage syndicated across many sources splits into per-source
    groups), so the skew posture only improves.

    Rows with a NULL ``scope_col`` pass through UNSTRIPPED (the equi-join
    never matches a NULL scope, so no threshold is defined for them) —
    fill or filter upstream if unattributed docs must participate."""
    staged, occ = window_occurrences(
        df, doc_col=doc_col, text_col=text_col, window_tokens=window_tokens,
        scope_col=scope_col,
    )
    boiler = (
        occ.groupBy("__scope", "__fp")
        .agg(F.countDistinct("__doc").alias("__n_docs"))
        .where(F.col("__n_docs") >= min_docs)
        .select("__scope", "__fp")
    )
    dup_windows = occ.join(boiler, ["__scope", "__fp"]).select("__doc", "__pos")
    return splice_windows(
        staged, dup_windows, doc_col=doc_col, window_tokens=window_tokens,
        keep=df.columns, text_out="text_stripped",
        windows_out="n_boiler_windows",
    )


def strip_intradoc_repeats(
    df: DataFrame,
    *,
    window_tokens: int = 8,
    min_repeats: int = 2,
) -> DataFrame:
    """WITHIN-document repeated-span removal (r11) — the CORRECTION
    complement to Gopher repetition SCORING (:func:`repetition_scores`
    flags repetitive docs for dropping; this REWRITES them): when the
    same ``window_tokens``-token window occurs ≥ ``min_repeats`` times
    inside ONE document (looping generation artifacts, duplicated
    paragraphs, nav chrome repeated down a page), the FIRST occurrence
    (lowest position) survives and every later occurrence is spliced out
    via the shared :func:`splice_windows` routine. Distinct
    from :func:`dedup_passages` (cross-doc duplication, one canonical
    occurrence corpus-wide) and :func:`strip_boilerplate`
    ((source, fp)-scoped templates, no survivor): the decision here is
    purely doc-local.

    Scale shape: the (doc, fp) occurrence agg shuffles only fingerprint
    rows keyed by the document (text never travels through the fp side),
    and because every decision is doc-local the whole operator is
    embarrassingly parallel by document — pre-bucket the corpus by
    ``doc_id`` and NO cross-partition state exists at any size.

    Returns the input columns plus ``text_derepeated``, ``n_tokens``,
    ``n_tokens_removed`` and ``n_repeat_windows``."""
    staged, occ = window_occurrences(
        df, doc_col="doc_id", text_col="text", window_tokens=window_tokens
    )
    # one (doc, fp)-keyed agg decides both questions: does the window
    # repeat within this doc, and which occurrence is first
    stats = occ.groupBy("__doc", "__fp").agg(
        F.count(F.lit(1)).alias("__n_occ"),
        F.min("__pos").alias("__first"),
    )
    dup_windows = (
        occ.join(stats.where(F.col("__n_occ") >= min_repeats), ["__doc", "__fp"])
        .where(F.col("__pos") != F.col("__first"))
        .select("__doc", "__pos")
    )
    return splice_windows(
        staged, dup_windows, doc_col="doc_id", window_tokens=window_tokens,
        keep=df.columns, text_out="text_derepeated",
        windows_out="n_repeat_windows",
    )


# ---------------------------------------------------------------------------
# PII scrubbing + in-document repetition removal (extension tier: the
# cleaning passes a training corpus runs before tokenization)
# ---------------------------------------------------------------------------

# Patterns stay in the common Java-regex / RE2 subset so the DuckDB oracle
# replays them verbatim. Applied in order: URLs first (they can contain
# '@' and digits), then emails, then phone-ish digit runs.
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() -]{6,}[0-9]"


def redact_pii(text: Column) -> Column:
    """Replace URLs/emails/phone-like digit runs with typed placeholders —
    single codegen'd projection, no UDF, no shuffle."""
    out = F.regexp_replace(text, URL_RE, "<URL>")
    out = F.regexp_replace(out, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def pii_counts(text: Column) -> dict[str, Column]:
    """Match counts per PII class (counted in the same order redaction
    applies, on the progressively redacted text, so a URL's '@' is never
    double-counted as an email)."""
    after_url = F.regexp_replace(text, URL_RE, "<URL>")
    after_email = F.regexp_replace(after_url, EMAIL_RE, "<EMAIL>")
    return {
        "n_urls": F.regexp_count(text, F.lit(URL_RE)),
        "n_emails": F.regexp_count(after_url, F.lit(EMAIL_RE)),
        "n_phones": F.regexp_count(after_email, F.lit(PHONE_RE)),
    }


def repetition_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 family —
    the boilerplate filters every web-scale corpus applies before
    training):

    - ``dup_line_frac``: fraction of lines that repeat an earlier line.
    - ``top_ngram_frac``: occurrences of the single most frequent token
      n-gram over total n-grams (run-length over the SORTED n-gram array —
      O(n log n) per doc, same discipline as ``dedup_lines``).

    Both are pure codegen projections: no UDF, no shuffle, scales as a
    map-only pass at 100 TB. Heavy arrays are staged in their own columns
    (HOF subtrees are not subexpression-eliminated — verify SKILL.md).
    Cross-engine pinned against a DuckDB replay in
    tests/test_graph_sampling.py."""
    df = df.withColumn("__lines", F.split(F.col(text_col), r"\n"))
    df = df.withColumn("__toks", tokens(F.col(text_col)))
    df = df.withColumn("__grams", token_ngrams(F.col("__toks"), 2))
    df = df.withColumn("__gsort", F.array_sort(F.col("__grams")))

    n_lines = F.size(F.col("__lines")).cast("double")
    dup_line_frac = F.when(
        n_lines > 0,
        (F.size(F.col("__lines")) - F.size(F.array_distinct(F.col("__lines")))) / n_lines,
    ).otherwise(F.lit(0.0))

    # longest run of equal adjacent elements in the sorted array = count
    # of the most frequent n-gram; linear fold with a 3-field accumulator
    def _step(a: Column, x: Column) -> Column:
        run = (
            F.when(a["prev"].isNotNull() & (x == a["prev"]), a["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(a["best"], run).alias("best")
        )

    best = F.aggregate(
        F.col("__gsort"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _step,
        lambda a: a["best"],
    )
    n_grams = F.size(F.col("__grams")).cast("double")
    top_ngram_frac = F.when(n_grams > 0, best / n_grams).otherwise(F.lit(0.0))

    return df.withColumns(
        {
            "dup_line_frac": F.round(dup_line_frac, 6),
            "top_ngram_frac": F.round(top_ngram_frac, 6),
        }
    ).drop("__lines", "__toks", "__grams", "__gsort")


def sorted_line_index(lines: Column) -> Column:
    """(line, pos) pairs sorted by (line, then pos) — the index
    ``dedup_lines`` consumes. Stage BOTH ``lines`` and this in their own
    projections before calling ``dedup_lines``: higher-order-function
    subtrees are not subexpression-eliminated, so an inlined expression
    would be re-evaluated per reference (the Catalyst pitfall that bit the
    token/simhash stats — verify SKILL.md)."""
    return F.array_sort(
        F.transform(lines, lambda x, i: F.struct(x.alias("line"), i.cast("int").alias("pos")))
    )


def _dedup_lines_naive(lines: Column) -> Column:
    """First-occurrence line dedup via per-element ``array_position`` —
    O(lines²) per document: a pathological scraped doc with 10⁵ lines does
    10¹⁰ string comparisons on a single task (VERDICT r4 #3). Kept ONLY as
    the spec twin for the property test pinning ``dedup_lines``; do not
    put it on a pipeline path."""
    kept = F.filter(lines, lambda x, i: F.array_position(lines, x) - 1 == i)
    return F.array_join(kept, "\n")


def dedup_lines(lines: Column, srt: Column | None = None) -> Column:
    """Remove REPEATED lines within a document, keeping first occurrences
    in order (boilerplate headers/footers repeat verbatim inside scraped
    docs).

    Scale-safe form, O(n log n) per document and still a pure projection
    (no shuffle, no UDF): sort (line, pos) pairs, mark each entry whose
    line differs from its sorted predecessor (= the line's FIRST
    occurrence), then restore document order by sorting the surviving
    positions. Property-tested identical to the ``array_position`` spec
    form (``_dedup_lines_naive``).

    ``lines`` must be a staged column reference; pass ``srt`` (a staged
    ``sorted_line_index(lines)`` column) to guarantee the sort runs once —
    if omitted it is built inline and may be re-evaluated per reference.
    """
    if srt is None:
        srt = sorted_line_index(lines)

    # both arrays let-bound (functions/expr.py): the final per-position
    # element_at(lines, ·) would re-evaluate an inline or re-inlined lines
    # expression once per surviving line
    def body(b: Column) -> Column:
        ls, s = b["lines"], b["srt"]
        # sorted predecessor of each entry: [null, srt[0..n-2]]
        prev = F.concat(
            F.array(F.lit(None).cast("struct<line:string,pos:int>")),
            F.slice(s, 1, F.greatest(F.size(s) - 1, F.lit(0))),
        )
        firsts = F.zip_with(
            s, prev, lambda c, p: F.when(p.isNull() | (c["line"] != p["line"]), c["pos"])
        )
        kept_pos = F.array_sort(F.filter(firsts, lambda p: p.isNotNull()))
        kept = F.transform(kept_pos, lambda p: F.element_at(ls, p + 1))
        return F.array_join(kept, "\n")

    return let(F.struct(lines.alias("lines"), srt.alias("srt")), body)


def scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The composed cleaning pass: line-dedup then PII-redact, with per-doc
    PII counts. Stacked projections over the scan (the line array and its
    sorted index are staged so each is computed once) — no UDF, no
    shuffle."""
    counts = pii_counts(F.col(text_col))
    return (
        df.withColumn("__lines", F.split(F.col(text_col), r"\n"))
        .withColumn("__srt", sorted_line_index(F.col("__lines")))
        .withColumns(
            {
                **counts,
                "scrubbed": redact_pii(dedup_lines(F.col("__lines"), F.col("__srt"))),
            }
        )
        .drop("__lines", "__srt")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_tokens: int = 512,
    stride: int = 256,
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks — the
    long-document companion to ``packing.pack_sequences`` (packing
    combines SHORT docs into full context windows; this cuts LONG docs
    down to them). Chunk i covers tokens [i·stride, i·stride+max_tokens);
    ``stride < max_tokens`` gives sliding-window overlap so no span is
    split across a boundary unseen.

    Output: one row per (doc, chunk) with ``chunk_idx``, the chunk's
    ``chunk_tokens`` count, and ``chunk_text`` (tokens re-joined with
    single spaces — tokenization is the unit here, original whitespace is
    not preserved). Docs with zero tokens produce no rows (same contract
    as the shingle operators).

    Scale shape: a pure let-bound projection + explode_outer — per-doc
    work is linear in length, no shuffle at all; at 100 TB this runs at
    parquet-scan speed. Chunk starts/counts use only non-negative integer
    arithmetic so the DuckDB oracle replays bit-identically.
    """
    if not 0 < stride <= max_tokens:
        raise ValueError(f"stride must be in (0, max_tokens], got {stride}")

    def body(t: Column) -> Column:
        n = F.size(t)
        # chunks = 1 + ceil(max(n - max_tokens, 0) / stride). Spark's `/`
        # promotes to double; floor(double-div) equals integer floor-div
        # EXACTLY while the dividend < 2^53 (any real token count), and
        # the operands never go negative — negative truncation direction
        # is the only way int division diverges across engines (the
        # DECISIONS.md rule), and it cannot occur here.
        extra = F.greatest(n - F.lit(max_tokens), F.lit(0))
        n_chunks = (extra + F.lit(stride - 1)).cast("long") / F.lit(stride)
        n_chunks = F.floor(n_chunks).cast("int") + F.lit(1)
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.cast("long").alias("chunk_idx"),
                    F.least(F.lit(max_tokens), n - i * stride)
                    .cast("long")
                    .alias("chunk_tokens"),
                    F.array_join(F.slice(t, i * stride + 1, max_tokens), " ").alias(
                        "chunk_text"
                    ),
                ),
            ),
        ).otherwise(F.array().cast(
            "array<struct<chunk_idx:bigint,chunk_tokens:bigint,chunk_text:string>>"
        ))

    chunks = let(tokens(F.col(text_col)), body)
    return (
        df.withColumn("__chunks", chunks)
        .select(F.col(id_col), F.explode_outer(F.col("__chunks")).alias("__c"))
        .where(F.col("__c").isNotNull())
        .select(id_col, "__c.chunk_idx", "__c.chunk_tokens", "__c.chunk_text")
    )


def doc_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic keywords per document by tf·idf — the corpus
    summarization/labeling primitive (feeds topic routing, domain
    balancing, and dataset cards).

    Scoring is RATIONAL, not logarithmic: ``score = tf · (N+1)/(df+1)``.
    The ordering over (tf, df) is the same as with a log idf (monotone
    in 1/(df+1) for fixed tf), but it avoids transcendentals whose last
    ulp differs between libm implementations — a cross-engine rank flip
    at a near-tie would break oracle value-hash parity (DECISIONS.md
    rule: deterministic arithmetic only in oracle-checked outputs).

    Scale shape: per-doc term counts come array-side (``ngram_doc_counts``
    — one explode of DISTINCT terms per doc, so the term table is built
    ONCE), document frequency is a window count over the token partition
    (one token-keyed exchange — an agg+join formulation would evaluate
    the term table twice, once per consumer, since Spark shares no
    subplans without an exchange reuse), and the top-k is a per-doc
    window over ≤ distinct-terms rows. Token skew is bounded: a
    stop-word's window group holds one row per document containing it,
    counted not collected, and WindowExec spills. N (corpus size) is a
    driver scalar from ``count()`` — same precedent as the FX-bound
    scalars in plans/gold.py.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    terms = ngram_doc_counts(df, text_col, id_col, ngram_n=1).withColumnRenamed(
        "gram", "token"
    )
    wt = Window.partitionBy("token")
    scored = terms.withColumn(
        "df_count", F.count(F.lit(1)).over(wt)
    ).withColumn(
        "score",
        F.col("cnt").cast("double")
        * F.lit(float(n_docs + 1))
        / (F.col("df_count") + F.lit(1)).cast("double"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "rank",
            "token",
            F.col("cnt").alias("tf"),
            "df_count",
            F.round("score", 6).alias("score"),
        )
    )


def unigram_cross_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bits-per-token under the corpus's own add-1-smoothed
    unigram LM — the CCNet-style fluency/quality proxy (docs made of
    corpus-typical words score low; rare-word soup and boilerplate of
    out-of-distribution tokens score high). The reference has no LM
    scoring; this is the extension-tier quality signal a training
    pipeline ranks/filters on when no external LM is available.

        p(tok) = (count(tok) + 1) / (N + V)
        score(doc) = mean over tokens of -log2 p(tok)

    Scale shape: one token explode feeding BOTH the LM build and the
    scoring join; counts reduce with map-side combine on the token
    (uniform Zipf-hash shuffle); (N, V) is a 1-row aggregate combined by
    a 1x1 cross join (same pattern as plans/quality.py); the scoring join
    is token-keyed — the vocab side broadcasts when it fits, else it is a
    uniform hash join; per-doc mean is one more combine-friendly shuffle.
    No driver collect, no pair space.

    Cross-engine determinism: both engines feed log2 the identical IEEE
    ratio, but log2 ITSELF differs by 1 ulp between JVM StrictMath and
    libm on ~a third of inputs (measured), so the per-token bits are
    quantized to DECIMAL(30,4) — a 1-ulp input wobble (≈4e-15 absolute)
    flips a 1e-4 quantization boundary with ~4e-11 probability per
    token, which the per-doc mean then absorbs entirely. The coarser
    grid costs nothing for a quality score.

    The exploded token table is localCheckpoint'ed: it feeds BOTH the LM
    build and the scoring join, and the counts table is consumed twice
    more (scoring join + the (N, V) scalar aggregate) — without the pin,
    Spark would re-run the corpus tokenize+explode per consumer (no
    subplan sharing across DataFrame branches). At 100 TB this is the
    single most expensive pass; pin it once, disk-backed.
    """
    toks = (
        df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("__tok"))
        .where(F.col("__tok").isNotNull())
        .localCheckpoint(eager=False)
    )
    counts = (
        toks.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(
        F.sum("__c").alias("__n"), F.count(F.lit(1)).alias("__v")
    )
    bits = -F.log2((F.col("__c") + 1) / (F.col("__n") + F.col("__v")).cast("double"))
    scored = toks.join(counts, "__tok").crossJoin(F.broadcast(tot)).select(
        F.col(id_col), bits.cast("decimal(30,4)").alias("__bits")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum(F.col("__bits")).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("bits_per_token"),
    )


def bigram_cross_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bits-per-bigram under the corpus's own add-1-smoothed
    BIGRAM LM — the order-2 sibling of :func:`unigram_cross_entropy` and
    a closer cousin of the CCNet/KenLM filter (word-ORDER fluency, which
    a unigram bag cannot see: "the quick brown fox" and "fox the brown
    quick" score identically under unigrams, differently here).

        p(w2 | w1) = (count(w1 w2) + 1) / (count*(w1) + V)
        score(doc) = mean over the doc's bigrams of -log2 p(w2 | w1)

    where count*(w1) counts w1's occurrences AS A BIGRAM HISTORY (one
    per bigram, i.e. excluding each doc's final token) and V is the
    corpus bigram-type count — add-1 smoothing over the observed
    transition space. Documents with fewer than 2 tokens have no
    bigrams and drop out (no fluency evidence either way).

    Cross-engine determinism and scale shape follow
    unigram_cross_entropy exactly: one bigram explode feeds BOTH the LM
    build and the scoring join (localCheckpoint pin — no subplan
    sharing across consumers); counts reduce with map-side combine on
    uniform text keys; (V) is a 1-row aggregate crossed broadcast-style;
    per-bigram bits quantize to DECIMAL(30,4) (1-ulp log2 wobble
    between JVM StrictMath and libm absorbed) before the exact decimal
    per-doc mean."""
    toks = tokens(F.col(text_col))
    grams = (
        df.select(
            F.col(id_col),
            F.explode_outer(token_ngrams(toks, 2)).alias("__bg"),
        )
        .where(F.col("__bg").isNotNull())
        .localCheckpoint(eager=False)
    )
    bg_counts = (
        grams.groupBy("__bg")
        .agg(F.count(F.lit(1)).alias("__c2"))
        .localCheckpoint(eager=False)
    )
    # history counts derive from the bigram table itself (sum over w2),
    # so count*(w1) is exactly "occurrences of w1 followed by anything"
    hist = bg_counts.groupBy(
        F.split(F.col("__bg"), " ")[0].alias("__w1")
    ).agg(F.sum("__c2").alias("__c1"))
    vocab = bg_counts.agg(F.count(F.lit(1)).alias("__v"))
    bits = -F.log2(
        (F.col("__c2") + 1)
        / (F.col("__c1") + F.col("__v")).cast("double")
    )
    scored = (
        grams.join(bg_counts, "__bg")
        .withColumn("__w1", F.split(F.col("__bg"), " ")[0])
        .join(hist, "__w1")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), bits.cast("decimal(30,4)").alias("__bits"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(F.col("__bits")).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("bits_per_bigram"),
    )


def build_vocab(
    df: DataFrame, text_col: str = "text", *, size: int = 1000
) -> DataFrame:
    """Corpus vocabulary: the top-``size`` tokens by frequency as
    (token, n, vocab_id), ids 1..size dense-ranked by (count desc, token
    asc) — deterministic across engines and runs; id 0 is reserved for
    OOV by convention (see :func:`encode_documents`).

    Scale shape: one explode + count with map-side combine, then
    TakeOrdered top-``size`` (never a global sort of the full vocabulary),
    then a rank window over the ``size``-row result — the unpartitioned
    window is safe ONLY because its input is already capped at ``size``
    driver-bounded rows."""
    from pyspark.sql import Window

    counts = (
        df.select(F.explode_outer(tokens(F.col(text_col))).alias("token"))
        .where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(size)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.withColumn("vocab_id", F.row_number().over(w))


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    prefix: int = 8,
) -> DataFrame:
    """Encode each document against a vocabulary: per-doc token count,
    OOV count (tokens absent from the vocab → id 0), and the first
    ``prefix`` token ids pipe-joined — the tokenize→ids step of training
    prep, with the full-sequence form being the same plan minus the
    prefix filter.

    Scale shape: posexplode → ONE broadcast join against the (small)
    vocab → one groupBy per doc. The per-group collect buffer holds at
    most ``prefix`` structs because the when()-guard nulls out later
    positions BEFORE collect_list (which skips nulls) — bounded state per
    doc regardless of document length."""
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens(F.col(text_col))).alias("pos", "token"),
    ).where(F.col("token").isNotNull())
    enc = toks.join(
        F.broadcast(vocab.select("token", "vocab_id")), on="token", how="left"
    ).withColumn("vid", F.coalesce(F.col("vocab_id"), F.lit(0)))
    head = F.when(F.col("pos") < prefix, F.struct("pos", "vid"))
    return enc.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((F.col("vid") == 0).cast("long")).alias("n_oov"),
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list(head)),
                lambda x: x["vid"].cast("string"),
            ),
        ).alias("encoded_prefix"),
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k bigram collocations by LIFT — the corpus-analysis step that
    finds multi-word units ("new york", "machine learning") worth
    protecting in tokenizer training or n-gram features:

        lift(a b) = p(ab) / (p(a)·p(b))
                  = (n_ab / M) / ((n_a / N) · (n_b / N))

    with M = total bigram occurrences, N = total tokens. Lift is PMI
    without the log (rank-equivalent, and exactly reproducible
    cross-engine: every operand is an exact int64 count < 2^53, so the
    three IEEE divisions replay bit-identically — a float ``log`` would
    not, per the DECISIONS.md determinism rules).

    Scale shape: per-doc gram counts are array-side (``ngram_doc_counts``
    — what shuffles is distinct grams per doc); corpus totals are two
    scalar aggregates broadcast back; the unigram joins run over the
    VOCABULARY, not occurrences (AQE picks broadcast when it fits); the
    ``min_count`` filter prunes the join input; top-k is a TakeOrdered
    heap with a deterministic (lift, n_ab, gram) order."""
    bi = ngram_doc_counts(df, text_col, id_col, ngram_n=2)
    uni = ngram_doc_counts(df, text_col, id_col, ngram_n=1)
    # ab feeds the totals and the candidate filter; w feeds the totals
    # and BOTH unigram joins — uncut, each consumer re-ran the full
    # corpus n-gram explode (5 scans for one report, r15 optimization
    # pass). Both tables are vocabulary-sized (distinct grams), so the
    # pin costs far less than one corpus re-pass. EAGER: w's consumers
    # include independent broadcast builds Spark submits concurrently —
    # a lazy pin could race them into re-running the explode anyway.
    ab = pin(bi.groupBy("gram").agg(F.sum("cnt").alias("n_ab")), eager=True)
    w = pin(uni.groupBy("gram").agg(F.sum("cnt").alias("n_w")), eager=True)
    totals = ab.agg(F.sum("n_ab").cast("long").alias("m_bigrams")).crossJoin(
        w.agg(F.sum("n_w").cast("long").alias("n_tokens"))
    )
    cand = (
        ab.where(F.col("n_ab") >= min_count)
        .withColumn("__w", F.split(F.col("gram"), " "))
        .select(
            "gram",
            "n_ab",
            F.element_at("__w", 1).alias("__w1"),
            F.element_at("__w", 2).alias("__w2"),
        )
        .join(w.select(F.col("gram").alias("__w1"), F.col("n_w").alias("n_a")), "__w1")
        .join(w.select(F.col("gram").alias("__w2"), F.col("n_w").alias("n_b")), "__w2")
        .crossJoin(F.broadcast(totals))
    )
    lift = (
        F.col("n_ab").cast("double") / F.col("m_bigrams").cast("double")
    ) / (
        (F.col("n_a").cast("double") / F.col("n_tokens").cast("double"))
        * (F.col("n_b").cast("double") / F.col("n_tokens").cast("double"))
    )
    return (
        cand.select(
            "gram",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("n_ab").desc(), F.col("gram").asc())
        .limit(k)
    )


def hashed_doc_vectors(
    df: DataFrame,
    *,
    dim: int = 64,
    weighting: str = "tf",
) -> DataFrame:
    """Hashing-trick document vectors: every token hashes (md5) into one
    of ``dim`` buckets, per-doc bucket weights form a dense vector,
    L2-normalized — a deterministic, model-free text featurization that
    plugs the documents table into the ENTIRE vector stack (cosine_topk,
    knn_join, semantic_dedup, IVF/PQ indexes) when no trained embedding
    exists. The classic sparse-projection baseline (feature hashing,
    Weinberger et al. 2009).

    ``weighting``: ``"tf"`` = raw counts; ``"tfidf"`` = counts ×
    smoothed bucket-level inverse document frequency
    ``1 + ln((N+1)/(df_b+1))`` — downweights stopword-dominated buckets
    so cosine similarity measures content overlap, not function-word
    overlap. The idf factor is QUANTIZED to DECIMAL(30,6) before use
    (the unigram-CE discipline: 1-ulp ln() wobble between JVM and libm
    must not reach the component pins).

    Returns (doc_id, n_tokens, norm, vector: array<double>); docs with
    zero tokens drop (no direction is defined for them).

    Determinism: md5 buckets replay in SQL; weights are integers (tf) or
    exact products of an integer and a 1e-6-grid double (tfidf); the
    norm is one left-to-right fold under IEEE-correctly-rounded sqrt —
    every component and the norm are bit-identical cross-engine.

    Scale shape: one token explode → (doc, bucket) counts with map-side
    combine → (tfidf only: a dim-row bucket-df table that BROADCASTS,
    plus one 1-row doc-count combine) → one per-doc map collect (≤ dim
    entries); the dense-array build is a pure projection. No
    corpus-sized state, no UDFs."""
    from commercepulse_data_pipeline_spark.operators.sampling import hash_bucket

    if weighting not in ("tf", "tfidf"):
        raise ValueError(f"weighting must be 'tf' or 'tfidf', got {weighting!r}")
    toks = df.select(
        F.col("doc_id"),
        F.explode_outer(tokens(F.col("text"))).alias("__tok"),
    ).where(F.col("__tok").isNotNull())
    counts = (
        toks.withColumn(
            "__b", F.pmod(hash_bucket(F.col("__tok"), salt="hashvec-v1:"), F.lit(dim)).cast("int")
        )
        .groupBy("doc_id", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    if weighting == "tfidf":
        # counts feeds the bucket-df table, the doc-count total AND the
        # weighted projection; uncut, the token explode + (doc, bucket)
        # aggregate executed three times (r15 optimization pass). Rows
        # are ≤ dim per doc, so the pin is corpus-linear and bounded.
        # EAGER: the df table and the doc-count total are two INDEPENDENT
        # broadcast builds, which Spark submits concurrently — lazy could
        # race them into computing the explode twice.
        counts = pin(counts, eager=True)
        dfreq = counts.groupBy("__b").agg(
            F.count(F.lit(1)).alias("__df")
        )
        ndocs = counts.select("doc_id").distinct().agg(
            F.count(F.lit(1)).alias("__nd")
        )
        idf = (
            F.log((F.col("__nd") + 1) / (F.col("__df") + 1).cast("double"))
            .cast("decimal(30,6)")
            .cast("double")
            + F.lit(1.0)
        )
        counts = (
            counts.join(F.broadcast(dfreq), "__b")
            .crossJoin(F.broadcast(ndocs))
            .select(
                "doc_id",
                "__b",
                F.col("__c").alias("__tf"),
                (F.col("__c") * idf).alias("__c"),
            )
        )
    else:
        counts = counts.withColumn("__tf", F.col("__c")).withColumn(
            "__c", F.col("__c").cast("double")
        )
    entries = counts.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("__b", "__c"))).alias("__m"),
        F.sum("__tf").alias("n_tokens"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.coalesce(F.element_at(F.col("__m"), d), F.lit(0)).cast("double"),
    )
    norm = F.sqrt(
        F.aggregate(F.col("__vec"), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return (
        entries.withColumn("__vec", vec)
        .withColumn("__norm", norm)
        .select(
            "doc_id",
            "n_tokens",
            F.col("__norm").alias("norm"),
            F.transform(
                F.col("__vec"), lambda x: x / F.col("__norm")
            ).alias("vector"),
        )
    )


def quarantine_report(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """The REJECTED side of the curation funnel, with the reason: one row
    per dropped doc carrying the FIRST gate it failed — ``exact_dup`` →
    ``low_quality`` → ``wrong_lang``, the funnel's own stage order — plus
    its token count. This is the exclusion/quarantine table production
    curation pipelines write next to every corpus drop so removals stay
    auditable and reversible (the complement of the survivor counts
    ``docs_curation_funnel`` publishes; the funnel's *sampled* stage is a
    rate decision, not a quality gate, so it is deliberately NOT a
    quarantine reason). Survivors do not appear in the output.

    Scale shape: identical to the funnel — ONE corpus pass; the
    md5(``text_col``) canonical window is the only shuffle; the reason is
    a pure CASE projection over flags computed in the same projection;
    survivors are filtered out before anything else moves. A NULL
    ``lang`` never matches ``wrong_lang`` (three-valued ``<>`` — the
    SQL twin agrees by construction)."""
    from pyspark.sql import Window

    # one staged tokenization feeds BOTH the quality score and the token
    # count (HOF subtrees are not subexpression-eliminated — recomputing
    # F.size(tokens(text)) here would tokenize every doc twice)
    scored = quality_score(df, text_col, n_tokens_col="__qr_ntok")
    w = Window.partitionBy(F.md5(text_col))
    canonical = F.col("doc_id") == F.min("doc_id").over(w)
    reason = (
        F.when(~canonical, F.lit("exact_dup"))
        .when(F.col("quality_score") < 0.8, F.lit("low_quality"))
        .when(F.col("lang") != "en", F.lit("wrong_lang"))
    )
    return scored.select(
        F.col("doc_id"),
        F.col("source"),
        F.col("__qr_ntok").alias("n_tokens"),
        reason.alias("reason"),
    ).where(F.col("reason").isNotNull())


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    gram: int = 2,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC idea re-expressed over
    tokens): a chunk boundary falls AFTER token *i* whenever the hash of
    the ``gram``-token window ending at *i* lands on a multiple of
    ``divisor`` — so boundaries depend only on LOCAL content, never on
    absolute position. That is the property fixed-window chunking
    (:func:`chunk_documents`) lacks: insert one sentence at the top of a
    doc and every fixed window downstream shifts (all chunk hashes
    change), while CDC boundaries re-synchronize after ~``gram`` tokens
    and every downstream chunk hashes identically — chunk-level exact
    dedup then recognizes the unchanged 99% of a re-crawled page.
    Expected chunk length ≈ ``divisor`` tokens (geometric).

    Output: one row per chunk — ``doc_id``, ``chunk_idx`` (0-based),
    ``start_pos`` (0-based token offset), ``n_tokens``, ``chunk_md5``
    (hash of the space-joined chunk text — the chunk-dedup key; join
    back to the doc for text when needed).

    Scale shape: tokens and per-position boundary flags are built as
    arrays in TWO staged projections (the Catalyst re-expansion pitfall:
    an array expression referenced N times inlines N times unless staged
    — SKILL.md), then ONE posexplode to token rows, one window cumsum
    partitioned by doc (the only shuffle — linear in corpus tokens, keyed
    by doc id so it's uniform), and a (doc, chunk) aggregate that
    reassembles chunk text order-safely via sort-by-position. The hash is
    the shared md5/hex idiom (``sampling.hash_bucket``), so a DuckDB twin
    replays boundaries bit-for-bit."""
    if gram < 1 or divisor < 1:
        raise ValueError("cdc_chunks: gram and divisor must be >= 1")
    # no empty-array filter here: posexplode of an empty array emits no
    # rows anyway, and a size() predicate would PUSH DOWN through the
    # projection by substitution — one more inlined tokens() copy
    toks = df.select(id_col, tokens(F.col(text_col)).alias("__toks"))
    # boundary flag per 1-based position i: md5-bucket of the gram window
    # [max(1, i-gram+1) .. i] hits 0 mod divisor
    start = F.greatest(F.lit(1), F.col("i") - F.lit(gram - 1))

    def _bucket(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")

    flagged = toks.select(
        id_col,
        "__toks",
        F.transform(
            F.sequence(F.lit(1), F.size("__toks")),
            lambda i: (
                _bucket(
                    F.concat(
                        F.lit("cdc-v1:"),
                        F.array_join(
                            F.slice(
                                F.col("__toks"),
                                F.greatest(F.lit(1), i - F.lit(gram - 1)),
                                i - F.greatest(F.lit(1), i - F.lit(gram - 1)) + F.lit(1),
                            ),
                            " ",
                        ),
                    )
                )
                % divisor
                == 0
            ).cast("int"),
        ).alias("__bnd"),
    )
    rows = flagged.select(
        id_col,
        F.posexplode(F.arrays_zip("__toks", "__bnd")).alias("pos", "z"),
    ).where(
        # zero-token docs: sequence(1, 0) DESCENDS in Spark, so __bnd has
        # two phantom flags while __toks is empty — arrays_zip pads with
        # NULL tokens; drop those rows (a real token is never NULL, the
        # tokenizer filters empties). Cheap post-explode filter — a
        # size() predicate upstream would re-inline the token build.
        F.col("z.__toks").isNotNull()
    ).select(
        id_col,
        "pos",
        F.col("z.__toks").alias("__tok"),
        F.col("z.__bnd").alias("__b"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = rows.select(
        id_col,
        "pos",
        "__tok",
        F.coalesce(F.sum("__b").over(w), F.lit(0)).cast("long").alias("chunk_idx"),
    )
    return (
        chunked.groupBy(id_col, "chunk_idx")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "__tok"))),
                        lambda s: s["__tok"],
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )


def code_signals(text: Column) -> dict[str, Column]:
    """``code_detect``'s columns over the ``text`` column, keyed by output
    name (``symbol_ratio``, ``indent_frac``, ``term_frac``, ``is_code``),
    so a filter can use ``is_code`` without a join."""
    n_chars = F.length(text).cast("double")
    sym = F.regexp_count(text, F.lit(r"[{}\[\]();=<>]")).cast("double")
    lines = F.filter(F.split(text, "\n"), lambda x: x != "")
    n_lines = F.size(lines).cast("double")
    indented = F.size(
        F.filter(lines, lambda x: x.rlike(r"^(  |\t)"))
    ).cast("double")
    terminated = F.size(
        F.filter(lines, lambda x: x.rlike(r"[;{}]\s*$"))
    ).cast("double")
    cols = {
        "symbol_ratio": F.when(n_chars > 0, F.round(sym / n_chars, 6)),
        "indent_frac": F.when(n_lines > 0, F.round(indented / n_lines, 6)),
        "term_frac": F.when(n_lines > 0, F.round(terminated / n_lines, 6)),
    }
    signals = (
        F.coalesce((cols["symbol_ratio"] >= 0.06).cast("int"), F.lit(0))
        + F.coalesce((cols["indent_frac"] >= 0.2).cast("int"), F.lit(0))
        + F.coalesce((cols["term_frac"] >= 0.5).cast("int"), F.lit(0))
    )
    return {**cols, "is_code": signals >= 2}


def code_detect(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Code-vs-prose detection — the routing gate a mixed web corpus
    applies before training (code wants different tokenization, dedup
    granularity and quality filters than prose; classifying by file
    extension misses code pasted into HTML/forum/markdown pages). Pure
    regex-count heuristics, no model: a doc is flagged ``is_code`` when
    at least two of three signals fire —

      symbol_ratio  — code-punctuation chars ``{}[]();=<>`` per char,
                      fires at >= 0.06 (prose sits well under 2%, code
                      6-15%)
      indent_frac   — fraction of lines starting with 2+ spaces or a tab,
                      fires at >= 0.2 (block-structured indentation)
      semi_or_brace — >= 1 semicolon-or-brace line terminator per 2
                      lines (statement-terminated languages)

    Scale shape: one map-only codegen'd projection — counts via
    regexp_count / length arithmetic on simple character classes (no
    backreferences or lookarounds, so RE2-based engines replay the same
    counts — the oracle-parity discipline of bpe_ish_tokens). NULL text
    yields NULL metrics and is_code=false (no evidence)."""
    cols = code_signals(F.col(text_col))
    return df.select(F.col(id_col), *(c.alias(name) for name, c in cols.items()))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide a
    window of ``w`` consecutive gram hashes, select each window's
    MINIMUM (ties → rightmost position), emit the distinct selected
    (position, hash) pairs as the doc's fingerprint set. The selection
    carries winnowing's GUARANTEE: any shared token run of at least
    ``w + k - 1`` tokens between two docs shares at least one
    fingerprint — so joining on ``fp`` finds every sufficiently-long
    overlap, with expected density 2/(w+1) fingerprints per gram
    (vs keeping every gram). The rightmost-tie rule is what makes the
    selection position-independent (robust to upstream insertions, the
    same property as :func:`cdc_chunks` boundaries).

    Docs with fewer than ``w`` grams winnow as ONE whole-doc window
    (the paper's short-document convention); docs with no k-gram at all
    emit nothing.

    Scale shape: grams and their hashes build in staged projections
    (token array let-bound per the repo-wide discipline); window minima
    are an O(grams × w) per-row fold — pure codegen, NO explode of the
    window space and no shuffle at all; the only rows that leave the
    doc are the selected fingerprints (≈ 2/(w+1) per gram). Output:
    (doc_id, pos, fp) — pos is the 1-based gram index, fp the shared
    md5-bucket hash, so a DuckDB twin replays the selection exactly."""
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints: k and w must be >= 1")

    from commercepulse_data_pipeline_spark.functions.expr import let

    def _bucket(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")

    hash_array = F.transform(
        token_ngrams(tokens(F.col(text_col)), k),
        lambda g: _bucket(F.concat(F.lit("winnow-v1:"), g)),
    )

    # the hash array is referenced many times (sizes, window bounds, and
    # per-element inside the NESTED aggregate lambda) — let-bind it so
    # every reference is a lambda-variable read. A staged column is NOT
    # enough here: CollapseProject inlined it into all seven reference
    # sites, and the copy inside the window fold recomputed the whole
    # gram-hash build PER WINDOW ELEMENT — O(grams² · w) hashing,
    # measured 30s at sf0.1 (the r13 scale probe caught it; post-fix the
    # plan carries exactly one md5-gram build).
    def body(hs: Column) -> Column:
        ng = F.size(hs)
        n_windows = F.greatest(ng - F.lit(w - 1), F.lit(1))
        win_len = F.least(F.lit(w), ng)
        init = F.struct(
            F.lit(2**63 - 1).cast("long").alias("h"),
            F.lit(-1).cast("long").alias("p"),
        )
        sel = F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.aggregate(
                F.sequence(i, i + win_len - F.lit(1)),
                init,
                # <= : a later (righter) equal hash replaces the held one
                # — the paper's rightmost-tie rule
                lambda acc, j: F.when(
                    F.element_at(hs, j.cast("int")) <= acc["h"],
                    F.struct(
                        F.element_at(hs, j.cast("int")).alias("h"),
                        j.cast("long").alias("p"),
                    ),
                ).otherwise(acc),
            ),
        )
        return F.when(ng >= 1, F.array_distinct(sel))

    picked = df.select(id_col, let(hash_array, body).alias("__sel"))
    # explode_outer + null-filter, NOT a plain explode: the inner form's
    # inferred (size > 0 AND isnotnull) predicates push down and inline
    # the __sel expression again (the ngram_jaccard_pairs lesson)
    return (
        picked.select(id_col, F.explode_outer("__sel").alias("__s"))
        .where(F.col("__s").isNotNull())
        .select(
            id_col,
            F.col("__s.p").alias("pos"),
            F.col("__s.h").alias("fp"),
        )
    )


def winnow_match_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_posting: int = 1000,
) -> DataFrame:
    """MOSS-style match detection over winnowing fingerprints: doc pairs
    ranked by how many fingerprints they share — the report a
    plagiarism / re-hosting / template investigation reads
    (:func:`winnow_fingerprints` carries the guarantee, so every shared
    token run of >= ``w + k - 1`` tokens contributes evidence here; a
    high ``n_shared`` means long or many shared runs).

    Scale shape: the fingerprint table feeds the standard inverted-index
    machinery — ``dedup._bucket_pairs`` over posting lists per fp hash
    (cap enforced BEFORE collect: singleton and over-cap postings never
    reach the aggregation buffer), then one (pair)-keyed count. A
    corpus-common fingerprint (boilerplate phrase) is dropped by the
    cap instead of emitting its quadratic pair block — the same
    stop-shingle discipline as ``ngram_jaccard_pairs``. Output:
    (id_a < id_b, n_shared) with ``n_shared >= min_shared``."""
    from commercepulse_data_pipeline_spark.operators.dedup import _bucket_pairs

    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    # a doc may select the same fp hash at several positions; one vote
    # per (doc, fp) keeps n_shared = |shared fingerprint HASHES|
    keyed = fps.select(F.col("fp"), F.col(id_col).alias("__id")).distinct()
    return (
        _bucket_pairs(keyed, ["fp"], F.col("__id"), max_posting)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# HTML-to-text extraction (r15): the first stage of the crawl funnel
# ---------------------------------------------------------------------------

# Tags whose open/close marks a BLOCK boundary (trafilatura-lite text
# segmentation); inline tags (<a>, <b>, <span>, ...) stay inside their
# block so link density can be measured before they are stripped.
_HTML_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|tr|td|th|table|h1|h2|h3|h4|h5|h6|section|article"
    "|header|footer|nav|blockquote|pre|hr|dd|dt|dl"
)
_HTML_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
# entity decode order: &amp; LAST, or '&amp;lt;' would double-decode
_HTML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def _html_clean(c: Column) -> Column:
    """Strip remaining (inline) tags, decode the common entities, and
    collapse whitespace — the per-block text normalizer."""
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        c = F.regexp_replace(c, ent, ch)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _html_segmented(html: Column) -> Column:
    """Whole-document pass: drop comments and script/style/noscript
    subtrees (content included), then turn block-tag boundaries into
    newlines. Pure RE2-compatible regex (no backreferences), so the
    DuckDB oracle replays it verbatim. Unclosed script/style tags leak
    their content into text — the documented malformed-HTML
    simplification (a full parser belongs in a UDF-backed variant)."""
    c = F.coalesce(html, F.lit(""))
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    for tag in ("script", "style", "noscript"):
        c = F.regexp_replace(c, rf"(?is)<{tag}\b[^>]*>.*?</{tag}>", " ")
    return F.regexp_replace(c, rf"(?i)</?({_HTML_BLOCK_TAGS})\b[^>]*>", "\n")


def html_extract(
    df: DataFrame,
    html_col: str = "html",
) -> DataFrame:
    """HTML → text extraction, the stage in FRONT of the whole curation
    funnel (real crawls arrive as HTML; every operator downstream
    assumes extracted text). Trafilatura-lite, pure codegen regex —
    no UDF, no parser library:

        1. strip comments + script/style/noscript subtrees
        2. segment into blocks at block-level tag boundaries
        3. per block: measure LINK DENSITY (chars of <a> inner text vs
           total text chars — integer arithmetic, engine-exact) and
           token count, then keep blocks with >= 3 tokens whose link
           share is <= 50 percent —
           the text-density heuristic that drops nav bars, footers and
           link farms while keeping prose
        4. join kept blocks with newlines

    Returns (doc_id, text, n_blocks, n_kept_blocks) — one row per input
    row; a page with nothing worth keeping yields text = '' with its
    block counts, so the no_tokens quarantine downstream catches it.

    Scale shape: map-only projection (WholeStageCodegen end to end,
    zero shuffles, zero UDFs); the per-block arrays are let-bound so
    the segmentation/cleaning chain runs once per document, not once
    per consumer expression (the repo-wide array-staging rule).
    """
    anchor_lit = F.lit(_HTML_ANCHOR_RE)

    def block_stats(b: Column) -> Column:
        lc = F.aggregate(
            F.regexp_extract_all(b, anchor_lit, F.lit(1)),
            F.lit(0),
            lambda acc, a: acc + F.length(_html_clean(a)),
        )
        return F.struct(_html_clean(b).alias("txt"), lc.alias("lc"))

    def n_tok(txt: Column) -> Column:
        return F.size(F.filter(F.split(txt, " "), lambda x: x != ""))

    out = let(
        F.transform(
            F.split(_html_segmented(F.col(html_col)), "\n"), block_stats
        ),
        lambda stats: let(
            F.filter(
                stats,
                lambda s: (n_tok(s["txt"]) >= 3)
                & (s["lc"] * 100 <= F.length(s["txt"]) * 50),
            ),
            lambda kept: F.struct(
                F.array_join(
                    F.transform(kept, lambda s: s["txt"]), "\n"
                ).alias("text"),
                F.size(
                    F.filter(stats, lambda s: F.length(s["txt"]) > 0)
                ).cast("long").alias("n_blocks"),
                F.size(kept).cast("long").alias("n_kept_blocks"),
            ),
        ),
    )
    return df.select(
        F.col("doc_id"),
        out["text"].alias("text"),
        out["n_blocks"].alias("n_blocks"),
        out["n_kept_blocks"].alias("n_kept_blocks"),
    )
