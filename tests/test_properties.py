"""Property-based tests (hypothesis): engine semantics vs executable
reference models, on randomized inputs.

Each property runs a bounded number of examples (Spark job per example is
expensive); the models are tiny pure-Python reimplementations of the
REFERENCE semantics (pandas or-chain, keep-last dedup, set Jaccard), so
these catch semantic drift that fixed fixtures miss.
"""

from __future__ import annotations

import itertools

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.drift import coalesce_keys
from commercepulse_data_pipeline_spark.operators import dedup as dd

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# small vocab → collisions/duplicates are likely, which is the point
_WORD = st.sampled_from(["a", "b", "c", "dog", "cat", "42", ""])
_CELL = st.one_of(st.none(), _WORD)


@given(rows=st.lists(st.tuples(_CELL, _CELL, _CELL), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_falsy_coalesce_matches_python_or_chain(spark, rows):
    """coalesce_keys(skip_falsy=True) ≡ the reference's `a or b or c`
    (reference src/transformer.py:52-74): '' and '0' fall through."""
    df = spark.createDataFrame(rows, "a string, b string, c string")
    out = [
        r.v
        for r in df.select(
            coalesce_keys([F.col("a"), F.col("b"), F.col("c")], skip_falsy=True).alias("v")
        ).collect()
    ]
    # python or-chain model; coalesce_keys treats "0"/"0.0" as falsy like
    # the reference's numeric payloads do
    def or_chain(t):
        for v in t:
            if v not in (None, "", "0", "0.0"):
                return v
        return None
    assert out == [or_chain(t) for t in rows]


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),          # key
            st.one_of(st.none(), st.integers(0, 50)),      # ts (None = NaT)
            st.integers(0, 999),                           # payload/value
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_last_writer_wins_properties(spark, events):
    """D1 invariants on random event sets: one row per key; the winner's
    ts equals the max non-NULL ts for that key (NULL only wins when the
    key has no real timestamp at all)."""
    rows = [(k, f"2026-01-01 00:00:{t:02d}" if t is not None else None, v) for k, t, v in events]
    df = spark.createDataFrame(rows, "k string, ts_s string, v long").select(
        "k", F.to_timestamp("ts_s").alias("ts"), "v"
    )
    out = dd.last_writer_wins(df, ["k"], "ts", tiebreak_cols=["v"]).collect()
    keys = [r.k for r in out]
    assert sorted(keys) == sorted(set(k for k, _, _ in events))
    by_key = {}
    for k, t, v in events:
        by_key.setdefault(k, []).append((t, v))
    for r in out:
        real = [t for t, _ in by_key[r.k] if t is not None]
        if real:
            assert r.ts is not None and r.ts.second == max(real)
        else:
            assert r.ts is None


@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=10).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=8,
    )
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_ngram_jaccard_matches_bruteforce(spark, corpus):
    """Distributed posting-list Jaccard ≡ brute-force set Jaccard on the
    same 3-shingle sets, for every pair above threshold."""
    rows = list(enumerate(corpus))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_n=3, threshold=0.3, max_shingle_freq=10**6
        ).collect()
    }

    def shingles(text):
        t = text.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    expected = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.3:
            expected[(ia, ib)] = round(j, 6)
    assert got == expected


@given(
    corpus=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=2, max_size=12).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=6,
    ),
    threshold=st.integers(1, 8),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_simhash_recall_guarantee(spark, corpus, threshold):
    """Pigeonhole recall: every pair whose true signature Hamming distance
    is <= threshold MUST appear in the candidate output (block-LSH may add
    candidates, never lose qualifying ones)."""
    rows = list(enumerate(corpus))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r.doc_id: r.sig for r in dd.simhash_table(df, "text", "doc_id").collect()}
    got = {
        (r.id_a, r.id_b)
        for r in dd.simhash_candidate_pairs(
            df, "text", "doc_id", hamming_threshold=threshold
        ).collect()
    }
    for (ia, _), (ib, _) in itertools.combinations(rows, 2):
        if ia in sigs and ib in sigs:
            ham = bin((sigs[ia] ^ sigs[ib]) & ((1 << 64) - 1)).count("1")
            if ham <= threshold:
                assert (ia, ib) in got, f"missed pair {(ia, ib)} at hamming {ham}"


@given(
    texts=st.lists(
        st.lists(st.sampled_from("pqrstu"), min_size=3, max_size=8).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
@settings(**_SETTINGS)
def test_minhash_exact_duplicates_always_pair(spark, texts):
    """Identical documents MUST share a signature and appear as a
    candidate pair in every banding (LSH never misses exact dups)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    dup_id = 1000
    rows.append((dup_id, texts[0]))  # exact duplicate of doc 0
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.minhash_candidate_pairs(
            df, "text", "doc_id", num_hashes=8, bands=4, shingle_n=3
        ).collect()
    }
    assert (0, dup_id) in pairs


@given(
    intervals=st.lists(
        st.tuples(st.integers(0, 300), st.integers(0, 200)), min_size=1, max_size=8
    ),
    points=st.lists(st.integers(0, 500), min_size=1, max_size=10),
    bin_seconds=st.sampled_from([1, 7, 60]),
)
@settings(**_SETTINGS)
def test_range_join_matches_bruteforce(spark, intervals, points, bin_seconds):
    """Binned range join == brute-force [s, e) membership for every bin
    width (bin choice affects cost only, never the result set)."""
    from commercepulse_data_pipeline_spark.operators.joins import range_join

    ivl = [(i, s, s + ln) for i, (s, ln) in enumerate(intervals)]
    idf = spark.createDataFrame(ivl, "iid long, s_e long, e_e long").select(
        "iid",
        F.timestamp_seconds("s_e").alias("s"),
        F.timestamp_seconds("e_e").alias("e"),
    )
    pdf = spark.createDataFrame(
        [(p,) for p in set(points)], "p_e long"
    ).select(F.col("p_e").alias("pid"), F.timestamp_seconds("p_e").alias("pt"))
    got = {
        (r.pid, r.iid)
        for r in range_join(pdf, idf, "pt", "s", "e", bin_seconds=bin_seconds).collect()
    }
    expected = {
        (p, i) for p in set(points) for i, s, e in ivl if s <= p < e
    }
    assert got == expected


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 300), st.integers(0, 150)), min_size=1, max_size=6
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 300), st.integers(0, 150)), min_size=1, max_size=6
    ),
    bin_seconds=st.sampled_from([1, 13, 60]),
)
@settings(**_SETTINGS)
def test_overlap_join_matches_bruteforce(spark, lefts, rights, bin_seconds):
    """Binned overlap join == brute-force half-open overlap for every bin
    width (the meet-at-overlap-start rule emits each pair exactly once)."""
    from commercepulse_data_pipeline_spark.operators.joins import overlap_join

    lv = [(i, s, s + ln) for i, (s, ln) in enumerate(lefts)]
    rv = [(i, s, s + ln) for i, (s, ln) in enumerate(rights)]

    def mk(rows, cols):
        return spark.createDataFrame(rows, f"{cols[0]} long, s_e long, e_e long").select(
            cols[0],
            F.timestamp_seconds("s_e").alias(cols[1]),
            F.timestamp_seconds("e_e").alias(cols[2]),
        )

    got = [
        (r.lid, r.rid)
        for r in overlap_join(
            mk(lv, ["lid", "ls", "le"]), mk(rv, ["rid", "rs", "re"]),
            "ls", "le", "rs", "re", bin_seconds=bin_seconds,
        ).collect()
    ]
    expected = {
        (a, b) for a, sa, ea in lv for b, sb, eb in rv if sa < eb and sb < ea
    }
    assert len(got) == len(set(got)), "pair emitted twice"
    assert set(got) == expected


@given(
    old=st.dictionaries(
        st.integers(0, 15), st.one_of(st.none(), st.sampled_from("abc")), max_size=10
    ),
    new=st.dictionaries(
        st.integers(0, 15), st.one_of(st.none(), st.sampled_from("abc")), max_size=10
    ),
)
@settings(**_SETTINGS)
def test_corpus_diff_matches_dict_model(spark, old, new):
    """Content may be NULL (ADVICE r6): a doc present with NULL content is
    still PRESENT — added/removed go by id-presence, and NULL content
    compares null-safely (NULL vs NULL → unchanged, NULL vs text →
    changed). The dict model below is exactly that semantics."""
    if not old and not new:
        return
    odf = spark.createDataFrame(
        list(old.items()) or [(None, None)], "doc_id int, text string"
    ).where("doc_id IS NOT NULL")
    ndf = spark.createDataFrame(
        list(new.items()) or [(None, None)], "doc_id int, text string"
    ).where("doc_id IS NOT NULL")
    got = {r.doc_id: r.status for r in dd.corpus_diff(odf, ndf).collect()}
    expected = {}
    for k in set(old) | set(new):
        if k not in old:
            expected[k] = "added"
        elif k not in new:
            expected[k] = "removed"
        else:
            expected[k] = "unchanged" if old[k] == new[k] else "changed"
    assert got == expected


@given(
    quotes=st.lists(st.tuples(st.integers(0, 20), st.integers(0, 99)), min_size=1, max_size=10),
    trades=st.lists(st.integers(0, 25), min_size=1, max_size=10),
)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, quotes, trades):
    from commercepulse_data_pipeline_spark.operators.joins import asof_join

    # dedupe driver-side so model and DataFrame agree exactly
    # (dropDuplicates keeps an arbitrary row — a latent flake)
    dedup_quotes: dict[int, float] = {}
    for t, v in quotes:
        dedup_quotes.setdefault(t, float(v))
    qdf = spark.createDataFrame(
        [("K", t, v) for t, v in dedup_quotes.items()], "sym string, qt long, px double"
    )
    tdf = spark.createDataFrame([("K", t) for t in set(trades)], "sym string, tt long")
    got = {r.tt: r.px for r in asof_join(tdf, qdf, ["sym"], "tt", "qt", ["px"]).collect()}
    for tt in set(trades):
        eligible = [(qt, px) for qt, px in dedup_quotes.items() if qt <= tt]
        expected = max(eligible)[1] if eligible else None
        assert got[tt] == expected, (tt, got[tt], expected)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 400)), min_size=1, max_size=40, unique_by=lambda t: t[0]
    ),
    capacity=st.sampled_from([64, 128, 512]),
)
@settings(**_SETTINGS)
def test_pack_sequences_matches_python_nextfit(spark, rows, capacity):
    """Sharded next-fit packing ≡ a pure-Python next-fit walk per shard:
    same bins, same fills, for arbitrary token counts (incl. zero and
    over-capacity docs)."""
    from commercepulse_data_pipeline_spark.operators.packing import pack_sequences
    from commercepulse_data_pipeline_spark.operators.sampling import BUCKET_SPACE

    import hashlib

    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    got = {
        r.doc_id: (r.shard, r.bin_idx, r.bin_fill)
        for r in pack_sequences(df, "doc_id", "n_tokens", capacity=capacity, n_shards=3).collect()
    }

    def bucket(doc_id):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:8], 16) % 3

    model = {}
    shards: dict[int, list[tuple[int, int]]] = {}
    for doc_id, tok in rows:
        shards.setdefault(bucket(doc_id), []).append((doc_id, min(tok, capacity)))
    for shard, docs in shards.items():
        bin_idx, fill = 0, 0
        for doc_id, tok in sorted(docs):
            if fill and fill + tok > capacity:
                bin_idx, fill = bin_idx + 1, 0
            fill += tok
            model[doc_id] = (shard, bin_idx, fill)
    assert got == model


@given(
    keyed=st.lists(
        st.tuples(st.sampled_from(["k1", "k2", "hot"]), st.integers(0, 10_000)),
        min_size=1,
        max_size=60,
    ),
    cap=st.sampled_from([2, 5, 10]),
)
@settings(**_SETTINGS)
def test_capped_posting_lists_invariants(spark, keyed, cap):
    """For ANY input: output lists have 2..cap members, exactly the keys
    whose group size is in that band, with the full member multiset."""
    from collections import Counter

    df = spark.createDataFrame(keyed, ["bucket", "doc_id"])
    out = {r.bucket: sorted(r["__ids"]) for r in
           dd.capped_posting_lists(df, ["bucket"], F.col("doc_id"), max_bucket=cap).collect()}
    sizes = Counter(k for k, _ in keyed)
    expect_keys = {k for k, n in sizes.items() if 2 <= n <= cap}
    assert set(out) == expect_keys
    for k in expect_keys:
        assert out[k] == sorted(v for kk, v in keyed if kk == k)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["", "a", "b", "header", "x y", "  ", "a"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_dedup_lines_sorted_form_matches_naive(spark, docs):
    """The O(n log n) sort-based dedup_lines ≡ the O(n²) array_position
    spec form (first occurrence kept, document order preserved), for any
    line multiset including empties and duplicates (VERDICT r4 #5)."""
    from commercepulse_data_pipeline_spark.operators.text import (
        _dedup_lines_naive,
        dedup_lines,
        sorted_line_index,
    )

    rows = [(i, "\n".join(d)) for i, d in enumerate(docs)]
    df = (
        spark.createDataFrame(rows, ["doc_id", "text"])
        .withColumn("__lines", F.split(F.col("text"), r"\n"))
        .withColumn("__srt", sorted_line_index(F.col("__lines")))
    )
    got = {
        r.doc_id: (r.fast, r.naive)
        for r in df.select(
            "doc_id",
            dedup_lines(F.col("__lines"), F.col("__srt")).alias("fast"),
            _dedup_lines_naive(F.col("__lines")).alias("naive"),
        ).collect()
    }
    for doc_id, (fast, naive) in got.items():
        assert fast == naive, (doc_id, fast, naive)
    # and the model check: first occurrences in order
    for i, d in enumerate(docs):
        lines = "\n".join(d).split("\n")
        seen, expect = set(), []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                expect.append(ln)
        assert got[i][0] == "\n".join(expect)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=1, max_size=40
    )
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    """connected_components produces the (node, component) labeling of a
    pure-Python union-find model on ANY graph within the round budget
    (self-loops, duplicates, disconnected pieces included; 21 nodes keep
    every diameter inside it)."""
    from commercepulse_data_pipeline_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    a = {(r.node, r.component) for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    model = {(n, find(n)) for n in parent}
    assert a == model


@given(
    st.lists(
        st.one_of(st.none(), st.text(alphabet="ab \n", max_size=12)), max_size=8
    )
)
@settings(**_SETTINGS)
def test_let_binding_is_substitution(spark, texts):
    """let(x, f) == f(x) by value for arbitrary (including NULL) inputs:
    the binding changes evaluation count, never the result. Exercised
    through word_shingles and token_ngrams whose let-bound forms must
    equal a direct-substitution spec build."""
    from commercepulse_data_pipeline_spark.functions.expr import let
    from commercepulse_data_pipeline_spark.operators.dedup import _tokens, word_shingles

    rows = [(i, t) for i, t in enumerate(texts)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "i int, text string")

    # direct-substitution spec: same body, no binding
    toks = _tokens(F.col("text"))
    count = F.size(toks) - F.lit(2)
    spec = F.when(
        count > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), count - 1),
                lambda i: F.array_join(F.slice(toks, i + 1, 3), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))

    got = df.select(
        "i",
        word_shingles(F.col("text"), 3).alias("a"),
        spec.alias("b"),
        let(F.lit(5), lambda x: x * 2).alias("c"),
    ).collect()
    for r in got:
        assert r.a == r.b, (r.i, r.a, r.b)
        assert r.c == 10


@given(
    st.lists(
        st.text(alphabet="abc \n\t", min_size=0, max_size=30), min_size=1, max_size=6
    ),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_chunk_documents_matches_python_model(spark, texts, max_tokens, stride):
    """chunk_documents == a pure-Python sliding-window model for arbitrary
    whitespace-y texts and any stride <= max_tokens (chunk count, token
    counts, exact chunk text)."""
    from commercepulse_data_pipeline_spark.operators.text import chunk_documents

    stride = min(stride, max_tokens)
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_tokens, r.chunk_text)
        for r in chunk_documents(df, max_tokens=max_tokens, stride=stride).collect()
    }

    expect = {}
    for i, t in rows:
        toks = [x for x in t.lower().split() if x]
        if not toks:
            continue
        n_chunks = (max(len(toks) - max_tokens, 0) + stride - 1) // stride + 1
        for c in range(n_chunks):
            expect[(i, c)] = (
                min(max_tokens, len(toks) - c * stride),
                " ".join(toks[c * stride : c * stride + max_tokens]),
            )
    assert got == expect


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),     # user
            st.integers(min_value=0, max_value=30),    # second offset
            st.sampled_from(["a", "b", "c", "x"]),     # type (x = noise)
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_ordered_funnel_matches_greedy_model(spark, events):
    """ordered_funnel == a pure-Python greedy matcher for arbitrary event
    soups: duplicate timestamps, interleaved users, missing steps, noise
    types, events at the exact previous-match timestamp (strictly-after
    must exclude them)."""
    from commercepulse_data_pipeline_spark.operators.windows import ordered_funnel

    df = spark.createDataFrame(
        [(u, f"2024-05-01 00:00:{s:02d}", t) for u, s, t in events],
        "user_id long, ts string, event_type string",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "event_type")
    got = {
        r["user_id"]: tuple(None if x is None else x.second for x in (r["t1"], r["t2"], r["t3"]))
        for r in ordered_funnel(df, ["a", "b", "c"]).collect()
    }

    expect = {}
    users = {u for u, _, _ in events}
    for u in users:
        mine = [(s, t) for uu, s, t in events if uu == u]
        t_prev, ts = None, []
        for step in ("a", "b", "c"):
            cand = [
                s for s, t in mine
                if t == step and (t_prev is None or s > t_prev)
            ]
            if t_prev is None and step != "a":
                pass
            if not cand or (ts and ts[-1] is None):
                ts.append(None)
            else:
                t_prev = min(cand)
                ts.append(t_prev)
        if ts[0] is not None:
            expect[u] = tuple(ts)
    assert got == expect


@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=10).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.2, 0.5, 0.9]),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_containment_matches_bruteforce(spark, corpus, threshold):
    """Distributed directed containment ≡ brute-force |src∩dst|/|src| on
    the same 3-shingle sets, both directions, at any threshold."""
    rows = list(enumerate(corpus))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_src, r.id_dst): r.containment
        for r in dd.containment_pairs(
            df, "text", "doc_id", shingle_n=3, threshold=threshold,
            max_shingle_freq=10**6,
        ).collect()
    }

    def shingles(text):
        t = text.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    expected = {}
    for (ia, ta), (ib, tb) in itertools.permutations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        if not sa or not sb or not sa & sb:
            continue
        c = len(sa & sb) / len(sa)
        if c >= threshold:
            expected[(ia, ib)] = round(c, 6)
    assert got == expected


@given(
    sets=st.dictionaries(
        st.sampled_from(["A", "B", "C"]),
        st.sets(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
        min_size=2,
        max_size=3,
    ),
    k=st.sampled_from([4, 16, 64]),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_kmv_overlap_matches_python_model(spark, tmp_path_factory, sets, k):
    """kmv_set_overlap ≡ a pure-Python KMV model (same md5 hashes, same
    k-smallest truncation, same estimator arithmetic) for every set pair
    — sketches, matches, theta and the estimates themselves."""
    import hashlib

    from commercepulse_data_pipeline_spark.operators.sketches import (
        kmv_set_overlap,
        write_kmv_rollup,
    )

    rows = [(s, f"key{v}") for s, vals in sets.items() for v in vals]
    df = spark.createDataFrame(rows, "s string, key string")
    path = str(tmp_path_factory.mktemp("kmv") / "rollup")
    write_kmv_rollup(df, path, set_col="s", key_col="key", k=k)
    got = {
        (r["set_a"], r["set_b"]): (
            r["n_kept"], r["theta"], r["n_matches"], r["union_est"], r["inter_est"]
        )
        for r in kmv_set_overlap(spark, path, set_col="s", k=k).collect()
    }

    def hv(key):
        return int(hashlib.md5(f"kmv-v1:{key}".encode()).hexdigest()[:8], 16)

    sk = {
        s: sorted({hv(f"key{v}") for v in vals})[:k]
        for s, vals in sets.items()
    }
    expected = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        un = sorted(set(sk[a]) | set(sk[b]))[:k]
        n_kept = len(un)
        theta = max(un)
        matches = sum(1 for h in un if h in set(sk[a]) and h in set(sk[b]))
        if n_kept < k:
            u_est, i_est = float(n_kept), float(matches)
        else:
            u_est = float((k - 1) * (1 << 32)) / float(theta)
            i_est = (float(matches) / float(k)) * u_est
        expected[(a, b)] = (n_kept, theta, matches, round(u_est, 4), round(i_est, 4))
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14),
        min_size=1,
        max_size=8,
    ),
    w=st.sampled_from([2, 3]),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_dedup_passages_matches_python_model(spark, docs, w):
    """dedup_passages ≡ a pure-Python splice model on random tiny-vocab
    corpora (collisions guaranteed): fingerprint occurrences, canonical =
    min (doc_id, pos), duplicated iff ≥2 distinct docs, token removed iff
    covered by any non-canonical duplicated window."""
    import hashlib

    from commercepulse_data_pipeline_spark.operators.text import dedup_passages

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["text_deduped"], r["n_tokens"], r["n_tokens_removed"],
            r["n_dup_windows"],
        )
        for r in dedup_passages(df, window_tokens=w, min_docs=2).collect()
    }

    occ = {}  # fp -> list[(doc, pos)]
    for i, toks in enumerate(docs):
        for p in range(len(toks) - w + 1):
            fp = hashlib.md5(" ".join(toks[p : p + w]).encode()).hexdigest()
            occ.setdefault(fp, []).append((i, p))
    dup = {}  # doc -> set of duplicate window positions
    for fp, places in occ.items():
        if len({d for d, _ in places}) < 2:
            continue
        canon = min(places)
        for place in places:
            if place != canon:
                dup.setdefault(place[0], set()).add(place[1])
    for i, toks in enumerate(docs):
        dp = dup.get(i, set())
        kept = [
            t for j, t in enumerate(toks)
            if not any(p <= j < p + w for p in dp)
        ]
        want = (" ".join(kept), len(toks), len(toks) - len(kept), len(dp))
        assert got[i] == want, (i, got[i], want)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    ),
    probes=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=10),
        min_size=1,
        max_size=3,
    ),
    w=st.sampled_from([2, 3]),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_scrub_contamination_matches_python_model(spark, docs, probes, w):
    """scrub_contamination ≡ a pure-Python splice model on random
    tiny-vocab corpora: token removed iff covered by any window whose
    fingerprint is in the probe vocabulary; no canonical survivor."""
    from commercepulse_data_pipeline_spark.operators.contamination import (
        scrub_contamination,
    )

    corpus = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    probe_df = spark.createDataFrame(
        [(100 + i, " ".join(t)) for i, t in enumerate(probes)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["text_scrubbed"], r["n_tokens"], r["n_tokens_removed"],
            r["n_probe_windows"],
        )
        for r in scrub_contamination(corpus, probe_df, window_tokens=w).collect()
    }

    vocab = set()
    for t in probes:
        for p in range(len(t) - w + 1):
            vocab.add(tuple(t[p : p + w]))
    for i, toks in enumerate(docs):
        dp = {
            p for p in range(len(toks) - w + 1)
            if tuple(toks[p : p + w]) in vocab
        }
        kept = [
            tok for j, tok in enumerate(toks)
            if not any(p <= j < p + w for p in dp)
        ]
        want = (" ".join(kept), len(toks), len(toks) - len(kept), len(dp))
        assert got[i] == want, (i, got[i], want)


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),
            st.lists(st.sampled_from(["a", "b", "c", "d"]),
                     min_size=0, max_size=14),
        ),
        min_size=1,
        max_size=8,
    ),
    w=st.sampled_from([2, 3]),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_strip_boilerplate_matches_python_model(spark, docs, w):
    """strip_boilerplate ≡ a pure-Python splice model on random
    tiny-vocab two-source corpora: counts scoped to (source, fp),
    boilerplate iff ≥2 distinct docs WITHIN the source, token removed
    iff covered by ANY boilerplate window — no canonical survivor."""
    import hashlib

    from commercepulse_data_pipeline_spark.operators.text import (
        strip_boilerplate,
    )

    rows = [(i, src, " ".join(toks)) for i, (src, toks) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (
            r["text_stripped"], r["n_tokens"], r["n_tokens_removed"],
            r["n_boiler_windows"],
        )
        for r in strip_boilerplate(df, window_tokens=w, min_docs=2).collect()
    }

    occ = {}  # (source, fp) -> list[(doc, pos)]
    for i, (src, toks) in enumerate(docs):
        for p in range(len(toks) - w + 1):
            fp = hashlib.md5(" ".join(toks[p : p + w]).encode()).hexdigest()
            occ.setdefault((src, fp), []).append((i, p))
    dup = {}  # doc -> set of boilerplate window positions
    for key, places in occ.items():
        if len({d for d, _ in places}) < 2:
            continue
        for d, p in places:  # every occurrence — no canonical
            dup.setdefault(d, set()).add(p)
    for i, (src, toks) in enumerate(docs):
        dp = dup.get(i, set())
        kept = [
            t for j, t in enumerate(toks)
            if not any(p <= j < p + w for p in dp)
        ]
        want = (" ".join(kept), len(toks), len(toks) - len(kept), len(dp))
        assert got[i] == want, (i, got[i], want)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14),
        min_size=1,
        max_size=8,
    ),
    w=st.sampled_from([2, 3]),
    min_repeats=st.sampled_from([2, 3]),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_strip_intradoc_repeats_matches_python_model(spark, docs, w, min_repeats):
    """strip_intradoc_repeats ≡ a pure-Python splice model on random
    tiny-vocab corpora: a window occurring ≥ min_repeats times in ONE
    doc keeps its lowest position and every other occurrence is a
    repeat window; token removed iff covered by any repeat window."""
    from commercepulse_data_pipeline_spark.operators.text import (
        strip_intradoc_repeats,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["text_derepeated"], r["n_tokens"], r["n_tokens_removed"],
            r["n_repeat_windows"],
        )
        for r in strip_intradoc_repeats(
            df, window_tokens=w, min_repeats=min_repeats
        ).collect()
    }

    for i, toks in enumerate(docs):
        places = {}  # window -> positions in this doc
        for p in range(len(toks) - w + 1):
            places.setdefault(tuple(toks[p : p + w]), []).append(p)
        dp = {
            p for ps in places.values() if len(ps) >= min_repeats
            for p in ps if p != min(ps)
        }
        kept = [
            t for j, t in enumerate(toks)
            if not any(p <= j < p + w for p in dp)
        ]
        want = (" ".join(kept), len(toks), len(toks) - len(kept), len(dp))
        assert got[i] == want, (i, got[i], want)


@given(
    vecs=st.dictionaries(
        st.integers(0, 9),
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, width=32), min_size=3, max_size=3
        ),
        min_size=1,
        max_size=8,
    ),
    pair_ids=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=12
    ),
)
@settings(**_SETTINGS)
def test_score_pairs_matches_python_cosine_model(spark, vecs, pair_ids):
    """score_pairs (r12) ≡ a pure-Python pairwise cosine over the vector
    dict: identical 6dp values for resolvable pairs, NULL for pairs with
    a missing or zero-norm vector, every input pair kept exactly once."""
    import math

    from commercepulse_data_pipeline_spark.operators.similarity import score_pairs

    vec_rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    vdf = spark.createDataFrame(vec_rows, "vec_id long, embedding array<float>")
    # arrays land as float32 — the model must read back the same values
    stored = {r.vec_id: list(r.embedding) for r in vdf.collect()}
    pdf = spark.createDataFrame(
        [(a, b, i) for i, (a, b) in enumerate(pair_ids)],
        "id_a long, id_b long, pos long",
    )
    got = {r.pos: r.cosine_sim for r in score_pairs(pdf, vdf).collect()}
    assert len(got) == len(pair_ids)

    def model(a, b):
        va, vb = stored.get(a), stored.get(b)
        if va is None or vb is None:
            return None
        na = math.sqrt(math.fsum(x * x for x in va))
        nb = math.sqrt(math.fsum(x * x for x in vb))
        if not na * nb > 0:
            return None
        dot = 0.0
        for x, y in zip(va, vb):  # sequential fold, like _dot
            dot += x * y
        return round(dot / (na * nb), 6)

    for i, (a, b) in enumerate(pair_ids):
        want = model(a, b)
        if want is None:
            assert got[i] is None, (a, b, got[i])
        else:
            assert got[i] is not None and abs(got[i] - want) < 1e-9, (a, b, got[i], want)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=15,
    ),
    n_corpus=st.integers(15, 25),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_cluster_size_histogram_matches_python_model(spark, edges, n_corpus):
    """cluster_size_histogram (r12) ≡ a pure-Python union-find model:
    per-size cluster/doc counts match, and with a corpus the singleton
    row completes the partition (sum(n_docs) == corpus size)."""
    from collections import Counter

    from commercepulse_data_pipeline_spark.operators.graph import (
        cluster_size_histogram,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    clusters = dedup_clusters(pairs)
    corpus = spark.createDataFrame([(i,) for i in range(n_corpus)], "doc_id long")
    got = {
        r.cluster_size: (r.n_clusters, r.n_docs)
        for r in cluster_size_histogram(clusters, corpus).collect()
    }

    # union-find model
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes = Counter(find(x) for x in parent)
    hist = Counter(sizes.values())
    want = {s: (n, s * n) for s, n in hist.items()}
    n_single = n_corpus - len(parent)
    if n_single:
        w1 = want.get(1, (0, 0))
        want[1] = (w1[0] + n_single, w1[1] + n_single)
    assert got == want
    assert sum(d for _, d in got.values()) == n_corpus


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd", "ee", "f42"]),
                 min_size=0, max_size=40),
        min_size=1, max_size=8,
    ),
    divisor=st.sampled_from([2, 4, 8]),
)
@settings(**_SETTINGS)
def test_cdc_chunks_matches_python_model(spark, docs, divisor):
    """cdc_chunks vs a pure-Python CDC walk (r13): identical boundary
    decisions (salted md5-bucket of the gram window, 0 mod divisor),
    identical chunk partition, counts and hashes, on random token
    sequences over a tiny colliding vocabulary."""
    import hashlib

    from commercepulse_data_pipeline_spark.operators.text import cdc_chunks

    def model(toks, gram=2, salt="cdc-v1:"):
        out, cur, ci = [], [], 0
        for i in range(1, len(toks) + 1):
            cur.append((i - 1, toks[i - 1]))
            g = " ".join(toks[max(1, i - gram + 1) - 1:i])
            h = int(hashlib.md5((salt + g).encode()).hexdigest()[:8], 16)
            if h % divisor == 0:
                out.append((ci, cur[0][0], len(cur),
                            hashlib.md5(" ".join(t for _, t in cur).encode()).hexdigest()))
                ci, cur = ci + 1, []
        if cur:
            out.append((ci, cur[0][0], len(cur),
                        hashlib.md5(" ".join(t for _, t in cur).encode()).hexdigest()))
        return out

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.chunk_idx, r.start_pos, r.n_tokens, r.chunk_md5)
        for r in cdc_chunks(df, gram=2, divisor=divisor).collect()
    )
    want = sorted(
        (i, ci, sp, n, h)
        for i, toks in enumerate(docs)
        for ci, sp, n, h in model(toks)
    )
    assert got == want


@given(
    e1=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=20
    ),
    e2=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=12
    ),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_merge_cluster_update_matches_from_scratch(spark, e1, e2):
    """Incremental CC fold (r13) vs from-scratch CC over the pair union,
    on random small graphs (self-loops filtered like the operators do;
    duplicate edges allowed — banding emits distinct pairs but the fold
    must not care)."""
    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        merge_cluster_update,
    )

    e1 = [(a, b) for a, b in e1 if a != b] or [(0, 1)]
    e2 = [(a, b) for a, b in e2 if a != b] or [(2, 3)]
    d1 = spark.createDataFrame(e1, "id_a long, id_b long")
    d2 = spark.createDataFrame(e2, "id_a long, id_b long")
    got = sorted(map(tuple, merge_cluster_update(dedup_clusters(d1), d2).collect()))
    want = sorted(map(tuple, dedup_clusters(d1.unionByName(d2)).collect()))
    assert got == want


@given(
    samples=st.lists(
        st.integers(min_value=-30000, max_value=30000), min_size=1,
        max_size=400,
    ),
    gain=st.integers(min_value=1, max_value=500),
)
@settings(**_SETTINGS)
def test_audio_ehash_gain_invariance_property(samples, gain):
    """audio_ehash64 (r14) is EXACTLY invariant under positive constant
    gain for arbitrary integer signals — including degenerate ones
    shorter than the 65-window grid (boundary-guard coverage) — and
    stable under sign flip of the whole signal (energy is |x|)."""
    from commercepulse_data_pipeline_spark.multimodal import audio_ehash64

    h = audio_ehash64(samples)
    assert audio_ehash64([s * gain for s in samples]) == h
    assert audio_ehash64([-s for s in samples]) == h


@given(
    pix=st.lists(
        st.integers(min_value=0, max_value=249), min_size=4, max_size=120
    ),
    shift=st.integers(min_value=1, max_value=6),
    w=st.integers(min_value=2, max_value=12),
)
@settings(**_SETTINGS)
def test_dhash_brightness_shift_property(pix, shift, w):
    """dhash64 (r13) is EXACTLY invariant under a global +shift
    brightness change for arbitrary rasters (every gradient comparison
    shifts both sides equally) — the property the fixed-pin test checks
    at one point, hypothesis-checked across the input space."""
    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import dhash64

    w = min(w, len(pix))
    h = max(1, len(pix) // w)
    arr = np.array(pix[: h * w], dtype=np.uint8).reshape(h, w)
    shifted = (arr.astype(int) + shift).clip(0, 255).astype(np.uint8)
    assert dhash64(shifted) == dhash64(arr)


_NB_WORD = st.sampled_from(["alpha", "beta", "Gamma", "DOG", "x", "42", ""])


@given(
    train=st.lists(
        st.tuples(st.lists(_NB_WORD, max_size=6), st.booleans()),
        min_size=1, max_size=12,
    ),
    test=st.lists(st.lists(_NB_WORD, max_size=6), min_size=1, max_size=6),
)
@pytest.mark.slow
@settings(**_SETTINGS)
def test_nb_classifier_matches_python_model(spark, train, test):
    """nb_train + nb_score ≡ a pure-Python Naive Bayes replica: same md5
    feature buckets, same add-1 smoothing, same DECIMAL(30,4) weight
    quantization, same exact decimal sums and HALF_UP final rounding —
    on random tiny corpora including empty docs and mixed case."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from commercepulse_data_pipeline_spark.operators import classifier as clf

    B, SALT = 32, "nbq-v1:"

    def feats(words):
        toks = [w.lower() for w in words if w]
        fs = list(toks) + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [
            int(hashlib.md5((SALT + f).encode()).hexdigest()[:8], 16) % B
            for f in fs
        ]

    def q4(x: float) -> Decimal:
        return Decimal(x).quantize(Decimal("0.0001"), ROUND_HALF_UP)

    cp, cn = [0] * B, [0] * B
    npos = nneg = 0
    for words, lab in train:
        if lab:
            npos += 1
        else:
            nneg += 1
        for b in feats(words):
            (cp if lab else cn)[b] += 1
    tp, tn = sum(cp), sum(cn)
    w = [
        q4(math.log2((cp[b] + 1) / float(tp + B))
           - math.log2((cn[b] + 1) / float(tn + B)))
        for b in range(B)
    ]
    bias = q4(math.log2((npos + 1) / float(nneg + 1)))

    def model_score(words):
        total = sum((w[b] for b in feats(words)), Decimal(0)) + bias
        # Spark's F.round(double, 4): BigDecimal.valueOf(d) (shortest
        # repr, like Python's repr) then HALF_UP
        return (
            float(Decimal(repr(float(total))).quantize(
                Decimal("0.0001"), ROUND_HALF_UP)),
            1 if total > 0 else 0,
            len(feats(words)),
        )

    labeled = spark.createDataFrame(
        [(i, " ".join(ws), int(lab)) for i, (ws, lab) in enumerate(train)],
        "doc_id long, text string, label int",
    )
    model = clf.nb_train(labeled, n_buckets=B)
    tdf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(test)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.nb_logodds, r.predicted, r.n_feats)
        for r in clf.nb_score(tdf, model, n_buckets=B).collect()
    }
    want = {i: model_score(ws) for i, ws in enumerate(test)}
    assert got == want


_HTML_FRAG = st.sampled_from([
    "plain words here",
    "more prose of quality",
    "<p>", "</p>", "<div class='nav'>", "</div>", "<br>",
    "<a href='/x'>a link label</a>", "<a href='/y'>z</a>",
    "<script>var x = 1 < 2;</script>", "<style>p{a:1}</style>",
    "<!-- note -->", "&amp;", "&lt;tag&gt;", "&nbsp;",
    "<b>bold</b>", "<span>inline</span>", "<", ">", "<unclosed",
    "<li>", "<h1>", "</h1>", "  ", "UPPER Case",
])


@pytest.mark.slow
@given(frags=st.lists(_HTML_FRAG, min_size=1, max_size=14))
@settings(**_SETTINGS)
def test_html_extract_matches_python_model(spark, frags):
    """html_extract ≡ a pure-Python replica of the exact regex chain
    (comment/script/style removal, block segmentation, tag strip +
    entity decode + whitespace collapse, integer link-density filter) on
    randomized fragment soups incl. malformed tags and entities."""
    import re

    from commercepulse_data_pipeline_spark.operators import text as tx
    from commercepulse_data_pipeline_spark.operators.text import (
        _HTML_BLOCK_TAGS,
        _HTML_ENTITIES,
    )

    html = " ".join(frags)

    def clean(s):
        s = re.sub(r"<[^>]*>", " ", s)
        for ent, ch in _HTML_ENTITIES:
            s = s.replace(ent, ch)
        return re.sub(r"\s+", " ", s).strip()

    c = html
    c = re.sub(r"(?s)<!--.*?-->", " ", c)
    for tag in ("script", "style", "noscript"):
        c = re.sub(rf"(?is)<{tag}\b[^>]*>.*?</{tag}>", " ", c)
    c = re.sub(rf"(?i)</?({_HTML_BLOCK_TAGS})\b[^>]*>", "\n", c)
    kept, nb, nk = [], 0, 0
    for blk in c.split("\n"):
        txt = clean(blk)
        lc = sum(
            len(clean(m))
            for m in re.findall(r"(?is)<a\b[^>]*>(.*?)</a>", blk)
        )
        ntok = len([t for t in txt.split(" ") if t])
        if len(txt) > 0:
            nb += 1
        if ntok >= 3 and lc * 100 <= len(txt) * 50:
            nk += 1
            kept.append(txt)

    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    row = tx.html_extract(df).head()
    assert row.text == "\n".join(kept)
    assert (row.n_blocks, row.n_kept_blocks) == (nb, nk)


# Every optional stage flag of clean-corpus the runner property draws
# from (the quality gate shares the selection body of the DSIR/CE stages
# and needs a trained model, so it is left to the CLI tests).
_CURATION_FLAGS = {
    "repetitive": ["--max-top-ngram-frac", "0.5"],
    "code": ["--drop-code"],
    "boilerplate": ["--strip-boilerplate"],
    "repeats": ["--strip-repeats"],
    "passage": ["--passage-dedup"],
    "dsir": ["--dsir-top-k", "4"],
    "ce": ["--ce-bands", "head,middle"],
    "sample": ["--sample-rate", "0.6"],
    "splits": ["--splits", "train=0.5,test=0.5"],
}
_CURATION_WORD = st.sampled_from(["alpha", "beta", "gamma", "delta", "spam", "x1", "x2"])


def _clean_corpus_args(argv):
    """The CLI's own parse of ``clean-corpus`` flags (defaults included)."""
    from commercepulse_data_pipeline_spark import cli

    got, real = [], cli.cmd_clean_corpus
    cli.cmd_clean_corpus = lambda a: got.append(a) or 0
    try:
        cli.main(["clean-corpus", "--docs", "-", "--out", "-", *argv])
    finally:
        cli.cmd_clean_corpus = real
    return got[0]


@given(
    flags=st.sets(st.sampled_from(sorted(_CURATION_FLAGS))),
    docs=st.lists(
        st.tuples(st.sampled_from(["A", "B"]), st.lists(_CURATION_WORD, max_size=10)),
        min_size=1, max_size=12,
    ),
)
@settings(**dict(_SETTINGS, max_examples=3))
def test_curation_run_partitions_input_with_first_reason(spark, tmp_path, flags, docs):
    """``curation.run`` under quarantine, over a random subset of the
    clean-corpus stage flags: kept and quarantine are disjoint, their
    union is the input, each doc has one row, and each quarantined doc's
    reason is the first stage whose output lacks it — checked on the
    stage prefixes run with quarantine off. A reason-None stage never
    drops a doc (first[d] would be None)."""
    from commercepulse_data_pipeline_spark.operators import curation

    tgt = str(tmp_path / "dsir_target")
    argv = ["--passage-window", "2", "--min-remaining-tokens", "3"]
    for flag in sorted(flags):
        argv += _CURATION_FLAGS[flag]
    if "dsir" in flags:
        spark.createDataFrame([("alpha beta gamma",)], "text string").write.mode(
            "overwrite"
        ).parquet(tgt)
        argv += ["--dsir-target", tgt]
    stages = curation.clean_corpus_stages(_clean_corpus_args(argv), lambda: spark)
    df = spark.createDataFrame(
        [(i, src, " ".join(words)) for i, (src, words) in enumerate(docs, 1)],
        "doc_id long, source string, text string",
    )
    ids = set(range(1, len(docs) + 1))

    kept, rejects = curation.run(df, stages, True)
    kept_ids = [r.doc_id for r in kept.select("doc_id").collect()]
    q = [(r.doc_id, r.reason) for r in rejects.collect()]
    assert len(set(kept_ids)) == len(kept_ids)
    assert len({d for d, _ in q}) == len(q)
    assert set(kept_ids).isdisjoint(d for d, _ in q)
    assert set(kept_ids) | {d for d, _ in q} == ids

    # prefix k's output = stage k run over prefix k-1's output (pinned, so
    # each stage executes once)
    first: dict[int, str] = {}
    prefix = df
    for stage in stages:
        prefix = curation.run(prefix, [stage], False)[0].localCheckpoint(eager=True)
        for d in ids - {r.doc_id for r in prefix.select("doc_id").collect()}:
            first.setdefault(d, stage.reason)
    assert dict(q) == first


def _fold_event(kind, eid, vendor, key, oid, day, hour, amount):
    """One envelope of ``kind`` (order/order_updated/payment/refund) in
    ``vendor``'s dialect (FIXTURES.md: a = orderRef + slash dates, b =
    flat ids + ISO, c = nested order.id + epoch seconds), at hour ``hour``
    of 2026-01-0<day+1>."""
    import datetime as dt

    from tests.conftest import _env

    t = dt.datetime(2026, 1, 1 + day, hour, tzinfo=dt.timezone.utc)
    iso, slash = t.strftime("%Y-%m-%dT%H:%M:%SZ"), t.strftime("%Y/%m/%d %H:%M:%S")
    epoch = int(t.timestamp())
    payload = {
        ("order", "vendor_a"): {"orderRef": oid, "buyerEmail": "a@x.com", "total": amount,
                                "status": "confirmed", "created": slash},
        ("order", "vendor_b"): {"order_id": oid, "customerId": "C1", "totalAmount": amount,
                                "state": "pending", "created_at": iso},
        ("order", "vendor_c"): {"order": {"id": oid}, "amount": amount, "state": "paid",
                                "ts": epoch},
        ("payment", "vendor_a"): {"paymentId": key, "orderRef": oid, "amount": amount,
                                  "status": "FAILED", "method": "transfer", "date": slash},
        ("payment", "vendor_b"): {"transaction_id": key, "order_id": oid,
                                  "amountPaid": amount, "payment_status": "successful",
                                  "channel": "card", "paid_at": iso},
        ("payment", "vendor_c"): {"id": key, "order": {"id": oid}, "payment_amount": amount,
                                  "state": "paid", "ts": epoch},
        ("refund", "vendor_a"): {"refund_id": key, "orderRef": oid, "amount": amount,
                                 "reason": "other", "refundedAt": iso},
        ("refund", "vendor_b"): {"refund_id": key, "order_id": oid, "payment_id": "P1",
                                 "refundAmount": amount, "reason": "damaged",
                                 "refunded_at": iso},
        ("refund", "vendor_c"): {"refundRef": key, "order": {"id": oid}, "amt": amount,
                                 "ts": epoch},
    }[("order" if kind == "order_updated" else kind, vendor)]
    etype = {"order": "order_created", "order_updated": "order_updated",
             "payment": "payment_succeeded", "refund": "refund_issued"}[kind]
    return _env(eid, etype, iso, vendor, payload)


_FOLD_EVENT = st.tuples(
    st.sampled_from(["order", "order_updated", "payment", "refund"]),
    st.sampled_from(["vendor_a", "vendor_b", "vendor_c"]),
    st.sampled_from(["K1", "K2"]),  # payment / refund id
    st.sampled_from(["o1", "o2", "o3"]),
    st.integers(0, 2),  # day
    st.integers(0, 23),  # hour
    st.sampled_from([0.0, 12.5, 100.0]),  # exact in binary: sums agree in any order
)


@given(
    extra=st.lists(_FOLD_EVENT, max_size=6),
    n_batches=st.integers(1, 3),
    picks=st.lists(st.integers(0, 2), min_size=16, max_size=16),
    replays=st.lists(st.integers(0, 15), min_size=1, max_size=3),
)
@settings(**dict(_SETTINGS, max_examples=2))
def test_gold_fold_converges_under_any_split(spark, tmp_path, extra, n_batches, picks, replays):
    """Folding any split of an event set into 1-3 batches with
    ``upsert_gold_batch`` leaves orders/payments/refunds equal to
    ``normalize_*`` over all events and gold equal to
    ``build_fact_order_daily`` over them. Every drawn set holds an order
    that moves across dates, payments and a refund for orders the first
    batch created, one batch with two rows of one payment_id for
    different orders (the fold touches both orders), and exact replays
    of events, in the same or another batch."""
    import shutil

    from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily
    from commercepulse_data_pipeline_spark.plans.silver import (
        normalize_orders,
        normalize_payments,
        normalize_refunds,
    )
    from commercepulse_data_pipeline_spark.streaming import gold_upsert as gu
    from tests.conftest import _envelope_frame

    last = n_batches - 1
    batches = [[] for _ in range(n_batches)]
    core = [
        (0, ("order", "vendor_b", None, "o1", 0, 23, 100.0)),
        (0, ("order", "vendor_c", None, "o2", 0, 10, 12.5)),
        (picks[0] % n_batches, ("order_updated", "vendor_a", None, "o1", 1, 1, 100.0)),
        (last, ("payment", "vendor_b", "P9", "o1", 1, 2, 100.0)),
        (last, ("payment", "vendor_c", "P9", "o2", 1, 3, 12.5)),
        (last, ("refund", "vendor_b", "R9", "o2", 2, 4, 12.5)),
    ]
    drawn = [(p % n_batches, e) for p, e in zip(picks[1:], extra)]
    events = []
    for i, (b, spec) in enumerate(core + drawn):
        events.append(_fold_event(spec[0], f"e{i}", *spec[1:]))
        batches[b].append(events[-1])
    for r in replays:  # exact duplicates of an event, in a drawn batch
        ev = events[r % len(events)]
        batches[picks[r] % n_batches].append(dict(ev))
        events.append(ev)

    store = str(tmp_path / "store")
    shutil.rmtree(store, ignore_errors=True)  # tmp_path is shared across examples
    for evs in batches:
        gu.upsert_gold_batch(_envelope_frame(spark, evs), store)

    def rows(df, cols):
        return sorted(map(repr, map(tuple, df.select(*cols).collect())))

    every = _envelope_frame(spark, events)
    want = {
        "orders": normalize_orders(every),
        "payments": normalize_payments(every),
        "refunds": normalize_refunds(every),
    }
    want["gold"] = build_fact_order_daily(want["orders"], want["payments"], want["refunds"])
    for table, expect in want.items():
        got = spark.read.parquet(f"{store}/{table}")
        assert rows(got, expect.columns) == rows(expect, expect.columns), table
