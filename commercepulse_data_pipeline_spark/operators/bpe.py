"""Byte-pair-encoding round-0 statistics over a Spark corpus.

BPE (Sennrich et al. 2016, public algorithm) trains a tokenizer by
repeatedly merging the most frequent adjacent symbol pair. This module
computes the statistics the first round ranks: adjacent-pair counts
weighted by word frequency.

Convention (shared with the oracle SQL and the pure-Python test
reference, so all three agree symbol-for-symbol):

- words  = whitespace tokens of ``lower(text)`` (``text.tokens``);
- symbols(word) = characters of the word followed by an ``</w>``
  end-of-word marker;
- a pair counts once per adjacent occurrence inside a word.

Scale shape: the corpus is scanned ONCE (``word_freqs``). BPE statistics
depend only on the distinct-word frequency table, which is orders of
magnitude smaller than the corpus (Heaps' law), so the pair explode and
count run on that table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

END = "</w>"


def _symbols(word: Column) -> Column:
    """Character symbols plus the end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(END)))


def word_freqs(df: DataFrame) -> DataFrame:
    """(word, freq) over the corpus — the ONE corpus-sized pass; every
    BPE iteration afterwards runs on this much smaller table."""
    return (
        df.select(F.explode_outer(tokens(F.col("text"))).alias("word"))
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs (one per position, so
    repeats inside a word count once per occurrence, as BPE requires).
    Guarded for single-symbol arrays (a fully-merged word): F.sequence
    would otherwise run DESCENDING to a 0 index, which ANSI element_at
    rejects."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("a"), F.element_at(syms, i + 1).alias("b")
        ),
    )
    return F.when(F.size(syms) >= 2, pairs).otherwise(
        F.array().cast("array<struct<a:string,b:string>>")
    )


def pair_counts(df: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency —
    BPE round-0 statistics as (a, b, n_pairs). One corpus scan, one
    word-key shuffle, one pair-key shuffle, both map-side combined."""
    wf = word_freqs(df)
    return (
        wf.select(F.explode(_adjacent_pairs(_symbols(F.col("word")))).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n_pairs"))
    )
