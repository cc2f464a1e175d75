"""BPE round-0 statistics vs an independent pure-Python reference (the
Sennrich dict-based algorithm, implemented here from the published
description — no shared code with operators/bpe.py)."""

from __future__ import annotations

import collections

import pytest

from commercepulse_data_pipeline_spark.operators.bpe import (
    END,
    pair_counts,
    word_freqs,
)

CORPUS = [
    ("d1", "the quick brown fox jumps over the lazy dog"),
    ("d2", "the dog barks at the quick fox again and again"),
    ("d3", "low lower lowest newer newest wider wide widest"),
    ("d4", "aaaa aaa aa a banana bandana ananas"),  # overlap + tie bait
    ("d5", "héllo héllo naïve café café café"),  # multi-byte chars
    ("d6", "the the the the and and and or"),
    ("d7", ""),  # empty doc
]


# -- pure-Python reference ---------------------------------------------------


def _ref_word_freqs(texts):
    c = collections.Counter()
    for t in texts:
        c.update(w for w in t.lower().split() if w)
    return c


def _ref_pairs(freqs):
    stats = collections.Counter()
    for word, f in freqs.items():
        syms = list(word) + [END]
        for i in range(len(syms) - 1):
            stats[(syms[i], syms[i + 1])] += f
    return stats


# -- tests -------------------------------------------------------------------


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id string, text string")


def test_pair_counts_matches_reference(docs_df):
    got = {
        (r.a, r.b): r.n_pairs for r in pair_counts(docs_df).collect()
    }
    want = dict(_ref_pairs(_ref_word_freqs(t for _, t in CORPUS)))
    assert got == want


def test_word_freqs_drops_empty(docs_df):
    wf = {r.word: r.freq for r in word_freqs(docs_df).collect()}
    assert wf == dict(_ref_word_freqs(t for _, t in CORPUS))
    assert "" not in wf
