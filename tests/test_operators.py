"""Unit tests: dedup / join / window / text / similarity operators
(SURVEY §2.5-§2.8 + extension operators)."""

from __future__ import annotations

import math
import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators import dedup as dd
from commercepulse_data_pipeline_spark.operators import similarity as sim
from commercepulse_data_pipeline_spark.operators import text as tx
from commercepulse_data_pipeline_spark.operators import windows as win
from commercepulse_data_pipeline_spark.operators.joins import anti_join, orphans, semi_join


def _events_df(spark):
    rows = [
        # (key, ts, val)
        ("k1", "2026-01-01 10:00:00", 1.0),
        ("k1", "2026-01-01 11:00:00", 2.0),
        ("k1", None, 99.0),  # NULL ts must never win last-writer
        ("k2", "2026-01-02 09:00:00", 3.0),
    ]
    return spark.createDataFrame(rows, ["k", "ts_s", "v"]).select(
        "k", F.to_timestamp("ts_s").alias("ts"), "v"
    )


def test_last_writer_wins_null_never_beats_real(spark):
    out = dd.last_writer_wins(_events_df(spark), ["k"], "ts").orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [("k1", 2.0), ("k2", 3.0)]


def test_keep_first(spark):
    out = dd.keep_first(_events_df(spark), ["k"], "ts").orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [("k1", 1.0), ("k2", 3.0)]


def test_exact_dedup_and_clusters(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")], ["doc_id", "text"]
    )
    kept = dd.exact_dedup(df, "text", "doc_id")
    assert kept.count() == 2
    assert {r.doc_id for r in kept.collect()} == {1, 3}  # canonical = min id
    clusters = dd.duplicate_clusters(df, "text", "doc_id").collect()
    by_canon = {r.canonical_id: r.dup_count for r in clusters}
    assert by_canon == {1: 2, 3: 1}


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    out = df.select(dd.word_shingles(F.col("text"), 3).alias("s")).collect()
    assert out[0].s == ["a b c", "b c d"]
    assert out[1].s == []  # fewer tokens than n → empty


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "совершенно другой текст без общих шинглов вообще ничего")],
        ["doc_id", "text"],
    )
    sig = dd.minhash_signature_table(df, "text", "doc_id", num_hashes=4, shingle_n=3)
    rows = {r.doc_id: (r.h0, r.h1, r.h2, r.h3) for r in sig.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    # identical docs must land in the same band bucket → candidate pair
    pairs = dd.minhash_candidate_pairs(df, "text", "doc_id", num_hashes=8, bands=4).collect()
    assert (1, 2) in {(r.id_a, r.id_b) for r in pairs}


def test_minhash_star_edges_same_clusters_as_pairs(spark):
    """Star edges (r16, the CC input for the cluster-table path) must
    yield ROW-IDENTICAL dedup_clusters output to the pair explosion — a
    bucket's star spans exactly its clique's vertex set — including on
    CHAINED buckets (components merging through a non-min shared member,
    where the star graph's diameter is twice the clique graph's) and
    under the max_bucket cap (over-cap buckets drop in BOTH forms)."""
    from commercepulse_data_pipeline_spark.operators import graph

    bands = spark.createDataFrame(
        [
            (1, 0, "k1"), (2, 0, "k1"), (3, 0, "k1"),  # clique bucket
            (3, 1, "k2"), (4, 1, "k2"),  # chains {1,2,3} to 4 via member 3
            (5, 0, "k3"),  # singleton bucket → no edges
            # over-cap bucket (max_bucket=3 below) → dropped wholesale
            (6, 0, "k4"), (7, 0, "k4"), (8, 0, "k4"), (9, 0, "k4"),
        ],
        ["doc_id", "band_id", "band_key"],
    )
    star = dd.minhash_star_edges(None, bands_df=bands, max_bucket=3)
    edges = {(r.id_a, r.id_b) for r in star.collect()}
    # member→bucket-min only: k-1 edges per bucket, id_a is the minimum
    assert edges == {(1, 2), (1, 3), (3, 4)}
    pairs = dd.minhash_candidate_pairs(None, bands_df=bands, max_bucket=3)
    c_star = graph.dedup_clusters(star)
    c_pairs = graph.dedup_clusters(pairs)
    assert c_star.exceptAll(c_pairs).count() == 0
    assert c_pairs.exceptAll(c_star).count() == 0
    got = {(r.doc_id, r.cluster_id, r.cluster_size) for r in c_star.collect()}
    assert got == {(1, 1, 4), (2, 1, 4), (3, 1, 4), (4, 1, 4)}


def test_minhash_star_edges_end_to_end_matches_pairs(spark):
    """End-to-end over real banding: clusters from star edges equal
    clusters from candidate pairs on a corpus with duplicate groups."""
    from commercepulse_data_pipeline_spark.operators import graph

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs today",
        "sphinx of black quartz judge my vow tonight ok",
    ]
    rows = [(i, texts[i % 3] + ("" if i < 6 else f" tail{i}")) for i in range(9)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(num_hashes=8, bands=4, shingle_n=3, max_bucket=1000)
    c_star = graph.dedup_clusters(dd.minhash_star_edges(df, "text", "doc_id", **kw))
    c_pairs = graph.dedup_clusters(
        dd.minhash_candidate_pairs(df, "text", "doc_id", **kw)
    )
    assert c_star.exceptAll(c_pairs).count() == 0
    assert c_pairs.exceptAll(c_star).count() == 0


def test_ngram_jaccard_pairs_threshold(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w q r")],
        ["doc_id", "text"],
    )
    out = dd.ngram_jaccard_pairs(df, "text", "doc_id", shingle_n=3, threshold=0.5)
    rows = [(r.id_a, r.id_b, r.jaccard) for r in out.collect()]
    assert rows == [(1, 2, 1.0)]


def test_containment_pairs_directed_asymmetry(spark):
    """A short doc fully quoted inside a long one: containment short→long
    is 1.0 (caught) while Jaccard stays below any useful threshold
    (missed) — the asymmetric case the operator exists for. Directions
    are independent: long→short only passes a low threshold."""
    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "entirely different words here now")],
        ["doc_id", "text"],
    )
    out = {
        (r.id_src, r.id_dst): r.containment
        for r in dd.containment_pairs(
            df, "text", "doc_id", shingle_n=3, threshold=0.05
        ).collect()
    }
    assert out[(1, 2)] == 1.0  # short fully contained in long
    assert 0 < out[(2, 1)] < 0.1  # reverse direction is weak
    assert (1, 3) not in out and (3, 1) not in out
    # Jaccard misses the pair at the same 0.5 bar containment clears
    jac = dd.ngram_jaccard_pairs(
        df, "text", "doc_id", shingle_n=3, threshold=0.5
    ).collect()
    assert jac == []
    high = dd.containment_pairs(
        df, "text", "doc_id", shingle_n=3, threshold=0.5
    ).collect()
    assert [(r.id_src, r.id_dst) for r in high] == [(1, 2)]


def test_dedup_passages_splices_and_keeps_canonical(spark):
    """Substring-level dedup CORRECTION: a passage shared across docs is
    spliced out of every occurrence EXCEPT the canonical one (smallest
    (doc_id, position)); same-doc repeats of a shared passage are also
    duplicates; untouched docs pass through verbatim (modulo whitespace
    normalization, which is identity here)."""
    from commercepulse_data_pipeline_spark.operators.text import dedup_passages

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    df = spark.createDataFrame(
        [
            (1, f"intro one {shared} tail one"),
            (2, f"different preamble here now {shared} plus a long different ending"),
            (3, "totally unique content with no duplicated passages at all here"),
            (4, f"{shared} {shared}"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup_passages(df, window_tokens=8, min_docs=2).collect()
    }
    # doc 1 holds the canonical occurrence — untouched
    assert out[1]["text_deduped"] == f"intro one {shared} tail one"
    assert out[1]["n_tokens_removed"] == 0 and out[1]["n_dup_windows"] == 0
    # doc 2's occurrence is spliced out, surroundings joined
    assert out[2]["text_deduped"] == (
        "different preamble here now plus a long different ending"
    )
    assert out[2]["n_tokens_removed"] == 8 and out[2]["n_dup_windows"] == 1
    # doc 3 untouched
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["text_deduped"] == df.collect()[2]["text"]
    # doc 4: BOTH same-doc repeats are non-canonical -> fully removed
    assert out[4]["text_deduped"] == "" and out[4]["n_tokens_removed"] == 16
    assert out[4]["n_dup_windows"] == 2
    # schema carries originals + the four new columns
    assert set(dedup_passages(df).columns) == {
        "doc_id", "text", "text_deduped", "n_tokens",
        "n_tokens_removed", "n_dup_windows",
    }


def test_dedup_passages_overlapping_windows_union_coverage(spark):
    """Overlapping duplicate windows mark the UNION of their token spans:
    a 10-token run shared between two docs yields 3 rolling 8-token
    duplicate windows in the non-canonical doc whose union removes all
    10 tokens — not 24, not 8."""
    from commercepulse_data_pipeline_spark.operators.text import dedup_passages

    run = " ".join(f"s{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, f"{run} canonical doc padding words"),
         (2, f"unrelated head words {run} unrelated tail")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup_passages(df, window_tokens=8, min_docs=2).collect()
    }
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["n_dup_windows"] == 3  # positions 3, 4, 5
    assert out[2]["n_tokens_removed"] == 10
    assert out[2]["text_deduped"] == "unrelated head words unrelated tail"


def test_one_routine_splices_windows():
    """Every window-splice operator rewrites text through
    ``text.splice_windows``: ``splice_covered_tokens`` has exactly one
    call site (inside it) and the per-doc duplicate-position column
    ``"__dup_pos"`` is named only in ``operators/text.py`` — a
    hand-copied occurrence/splice join anywhere else fails here."""
    import ast
    import pathlib

    package = pathlib.Path(tx.__file__).resolve().parents[1]
    callers, namers = [], set()

    def visit(node, owner, module):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name, module)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name == "splice_covered_tokens":
                    callers.append((module, owner))
            if isinstance(child, ast.Constant) and child.value == "__dup_pos":
                namers.add(module)
            visit(child, owner, module)

    for path in sorted(package.rglob("*.py")):
        module = path.relative_to(package).as_posix()
        visit(ast.parse(path.read_text()), None, module)
    assert callers == [("operators/text.py", "splice_windows")]
    assert namers == {"operators/text.py"}


_CHAIN_REASONS = {
    "repetitive", "code", "boilerplate_hollowed", "repeat_hollowed", "exact_dup",
    "near_dup", "passage_hollowed", "not_dsir_selected", "no_tokens",
    "ce_band_dropped", "classifier_low_quality", "not_sampled",
}


def test_quarantine_reasons_live_in_the_curation_module():
    """The clean-corpus chain's quarantine reasons are spelled only in
    ``operators/curation.py`` (its stage table), and neither
    ``cmd_clean_corpus`` nor ``clean_corpus_batch`` keeps a ``_reject``
    helper or a quarantine-only ``localCheckpoint`` — a hand-written
    reject anywhere else fails here. ``"code"`` is also a column name,
    so it counts only where it is used as a reason (``lit(...)``, a
    ``reason=`` keyword, a ``Stage``'s first argument or a ``*reject*``
    call). ``text.quarantine_report`` is a separate one-pass operator with
    its own 3-reason order and is exempt."""
    import ast
    import pathlib

    package = pathlib.Path(tx.__file__).resolve().parents[1]
    spelled, hand_wired = {}, []

    def name_of(call):
        f = call.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", "") or ""

    def visit(node, owner, module, as_reason):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name, module, as_reason)
                continue
            if (
                isinstance(child, ast.Constant)
                and child.value in _CHAIN_REASONS
                and (child.value != "code" or id(child) in as_reason)
                and (module, owner) != ("operators/text.py", "quarantine_report")
            ):
                spelled.setdefault(module, set()).add(child.value)
            visit(child, owner, module, as_reason)

    for path in sorted(package.rglob("*.py")):
        module = path.relative_to(package).as_posix()
        tree = ast.parse(path.read_text())
        as_reason = set()
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = name_of(call)
            if name == "lit" or "reject" in name:
                as_reason.update(id(a) for a in call.args)
            if name == "Stage" and call.args:
                as_reason.add(id(call.args[0]))
            as_reason.update(id(k.value) for k in call.keywords if k.arg == "reason")
        visit(tree, None, module, as_reason)
        for fn in ast.walk(tree):
            if not (isinstance(fn, ast.FunctionDef)
                    and fn.name in ("cmd_clean_corpus", "clean_corpus_batch")):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Name) and node.id == "_reject" or (
                    isinstance(node, ast.FunctionDef) and node.name == "_reject"
                ):
                    hand_wired.append((fn.name, "_reject"))
                if isinstance(node, ast.If) and any(
                    getattr(n, "id", getattr(n, "attr", None)) == "quarantine"
                    for n in ast.walk(node.test)
                ):
                    hand_wired += [
                        (fn.name, "localCheckpoint") for n in ast.walk(node)
                        if isinstance(n, ast.Call) and name_of(n) == "localCheckpoint"
                    ]
    assert spelled == {"operators/curation.py": _CHAIN_REASONS}
    assert hand_wired == []


def test_simhash_near_dup(spark):
    df = spark.createDataFrame(
        [(1, "spark is a unified analytics engine for large scale data"),
         (2, "spark is a unified analytics engine for large scale data processing"),
         (3, "entirely unrelated words about cooking pasta with tomato sauce")],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b) for r in
             dd.simhash_candidate_pairs(df, "text", "doc_id", hamming_threshold=10).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_joins(spark):
    parent = spark.createDataFrame([(1,), (2,)], ["k"])
    child = spark.createDataFrame([(1, "a"), (3, "b")], ["k", "x"])
    assert semi_join(child, parent, "k").count() == 1
    assert anti_join(child, parent, "k").count() == 1
    assert orphans(child, parent, "k").collect()[0].x == "b"


def test_sessionize_gap(spark):
    rows = [
        ("u1", "2026-01-01 10:00:00"),
        ("u1", "2026-01-01 10:10:00"),  # same session (gap 10m < 30m)
        ("u1", "2026-01-01 12:00:00"),  # new session
        ("u2", "2026-01-01 09:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "s"]).select(
        "user_id", F.to_timestamp("s").alias("ts")
    )
    stats = win.session_stats(win.sessionize(df, "user_id", "ts", gap_minutes=30))
    per_user = {}
    for r in stats.collect():
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user["u1"]) == [1, 2]
    assert per_user["u2"] == [1]


def test_text_stats_and_quality(spark):
    df = spark.createDataFrame([(1, "Hello hello world"), (2, "")], ["doc_id", "text"])
    stats = {r.doc_id: r for r in tx.with_text_stats(df, "text").collect()}
    assert stats[1].n_tokens == 3
    assert stats[1].n_distinct_tokens == 2  # case-folded
    assert stats[2].n_tokens == 0
    q = {r.doc_id: r.quality_score for r in tx.quality_score(df, "text").collect()}
    assert 0.0 <= q[1] <= 1.0 and 0.0 <= q[2] <= 1.0
    assert q[1] > q[2]


def test_detect_language(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog are in the house with a mouse"),
         (2, "el gato y el perro están en la casa con un ratón")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.detected_lang for r in tx.detect_language(df, "text").collect()}
    assert out[1] == "en"
    assert out[2] == "es"


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),     # identical direction → cos 1.0
        (2, [0.0, 1.0]),     # orthogonal → cos 0.0
        (3, [-1.0, 0.0]),    # opposite → cos -1.0
        (4, [1.0, 1.0]),     # cos ≈ 0.7071
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.cosine_topk(df, [1.0, 0.0], k=3, id_col="vec_id", vec_col="embedding").collect()
    assert [r.vec_id for r in out] == [0, 1, 4]
    assert abs(out[2].cosine_sim - 1 / math.sqrt(2)) < 1e-6


def test_knn_join_self(spark):
    rows = [(i, [float(i), 1.0]) for i in range(5)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.knn_join(df, df, k=2, id_col="vec_id", vec_col="embedding")
    mine = {r.query_id: r for r in out.where(F.col("rank") == 1).collect()}
    # nearest non-self neighbor of consecutive integer vectors is a neighbor id
    assert all(abs(mine[q].neighbor_id - q) == 1 for q in mine)


@pytest.mark.slow
def test_knn_join_self_blocked_finds_planted_neardups(spark):
    """Scale-safe self-kNN (VERDICT r1 #4): LSH-blocked candidate
    generation must (a) recover planted near-duplicates as the rank-1
    neighbor, (b) agree with brute-force knn_join on those pairs, and
    (c) carry no corpus broadcast / cartesian product in the plan."""
    import random

    rng = random.Random(7)
    dim = 16
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        # planted near-dup: tiny perturbation → cosine ≈ 1
        rows.append((2 * i + 1, [x + rng.gauss(0, 0.01) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    out = sim.knn_join_self(df, k=3, n_planes=6, n_tables=6, dim=dim)
    top1 = {r.query_id: r.neighbor_id for r in out.where(F.col("rank") == 1).collect()}
    found = sum(1 for q, n in top1.items() if n == q ^ 1)
    assert found >= int(0.9 * len(rows))  # near-dup twin is the top neighbor

    # brute-force agreement on the recovered top-1 scores
    brute = sim.knn_join(df, df, k=1, id_col="vec_id", vec_col="embedding")
    btop = {r.query_id: (r.neighbor_id, r.cosine_sim) for r in brute.collect()}
    for q, n in top1.items():
        if n == q ^ 1 and btop[q][0] == n:
            mine = out.where((F.col("query_id") == q) & (F.col("rank") == 1)).first()
            assert abs(mine.cosine_sim - btop[q][1]) < 1e-9

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_knn_join_self_max_bucket_caps_degenerate(spark):
    """All-identical vectors form one degenerate bucket per table; the
    max_bucket cap must drop it rather than emit O(n²) pairs."""
    df = spark.createDataFrame([(i, [1.0, 2.0, 3.0]) for i in range(30)], ["vec_id", "embedding"])
    out = sim.knn_join_self(df, k=2, n_planes=4, n_tables=2, max_bucket=10, dim=3)
    assert out.count() == 0


def test_capped_posting_lists_never_collects_overcap_bucket(spark):
    """VERDICT r2 #3: the bucket cap must be enforced BEFORE collect_list —
    the window count tags each row with its bucket size and the filter
    drops singleton/over-cap rows, so the collect aggregation provably
    never sees the degenerate bucket's members (row-count check on the
    exact pre-collect input)."""
    # planted degenerate bucket: key "hot" with 12 members (cap = 10)
    rows = [("hot", i) for i in range(12)] + [("ok", 100), ("ok", 101), ("lone", 200)]
    keyed = spark.createDataFrame(rows, ["bucket", "doc_id"])

    # the exact pre-collect input: window-counted rows after the cap filter —
    # zero rows of the degenerate bucket reach the collect aggregation
    w = Window.partitionBy("bucket")
    pre_collect = keyed.withColumn("__bucket_n", F.count(F.lit(1)).over(w)).where(
        (F.col("__bucket_n") >= 2) & (F.col("__bucket_n") <= 10)
    )
    assert pre_collect.where(F.col("bucket") == "hot").count() == 0
    assert pre_collect.count() == 2

    lists = dd.capped_posting_lists(keyed, ["bucket"], F.col("doc_id"), max_bucket=10)
    got = {r.bucket: sorted(r["__ids"]) for r in lists.collect()}
    assert got == {"ok": [100, 101]}

    # plan shape: upstream computed ONCE with ONE exchange — the final
    # groupBy reuses the window's hash partitioning on the same keys
    plan = lists._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final_plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in final_plan, plan


def test_pair_generators_drop_planted_degenerate_bucket(spark):
    """End-to-end: 15 identical docs (one degenerate bucket everywhere)
    plus a true near-dup pair. With the cap below 15 every pair generator
    drops the clones wholesale but still reports the planted pair (in
    both directions for the directed containment pairs)."""
    clone = "the same boilerplate text repeated verbatim across documents"
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "alpha beta gamma delta epsilon zeta eta iota"
    rows = [(i, clone) for i in range(15)] + [(100, a), (101, b)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    mh = dd.minhash_candidate_pairs(
        df, "text", "doc_id", num_hashes=8, bands=4, max_bucket=10
    ).collect()
    assert {(r.id_a, r.id_b) for r in mh} == {(100, 101)}

    nj = dd.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, max_shingle_freq=10
    ).collect()
    assert {(r.id_a, r.id_b) for r in nj} == {(100, 101)}

    sh = dd.simhash_candidate_pairs(
        df, "text", "doc_id", hamming_threshold=10, max_bucket=10
    ).collect()
    assert {(r.id_a, r.id_b) for r in sh} == {(100, 101)}

    cp = dd.containment_pairs(
        df, "text", "doc_id", threshold=0.5, max_shingle_freq=10
    ).collect()
    assert {(r.id_src, r.id_dst) for r in cp} == {(100, 101), (101, 100)}

    wm = tx.winnow_match_pairs(df, "text", "doc_id", max_posting=10).collect()
    assert {(r.id_a, r.id_b) for r in wm} == {(100, 101)}


def test_lsh_topk_contains_exact_match(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [3.0, 4.0, 1.0]
    out = sim.lsh_topk(df, q, k=5, n_planes=3).collect()
    assert len(out) == 5
    # results sorted by cosine descending
    sims = [r.cosine_sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_salted_agg_matches_plain_agg(spark):
    from commercepulse_data_pipeline_spark.operators.skew import salted_agg

    rows = [("hot", float(i)) for i in range(500)] + [("cold", 1.0), ("cold", 2.0)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(4)
    out = {r.k: r for r in salted_agg(
        df, ["k"],
        {"total": ("v", F.sum, F.sum),
         "n": ("v", F.count, F.sum),
         "mx": ("v", F.max, F.max)},
        salt_buckets=8,
    ).collect()}
    assert out["hot"].total == sum(range(500)) and out["hot"].n == 500
    assert out["hot"].mx == 499.0
    assert out["cold"].total == 3.0 and out["cold"].n == 2


def test_salt_deterministic_under_repartitioning(spark):
    """The salt is a content hash, not rand: the same row gets the same
    salt bucket regardless of partitioning — a retried/speculative task
    cannot re-salt (VERDICT r4 #4). Also: a hot key's rows actually
    spread across buckets."""
    from commercepulse_data_pipeline_spark.operators.skew import _content_salt

    rows = [("hot", i) for i in range(200)] + [("cold", -1)]
    df1 = spark.createDataFrame(rows, ["k", "i"]).repartition(2)
    df8 = spark.createDataFrame(rows, ["k", "i"]).repartition(8, "i")
    s1 = {(r.k, r.i): r.s for r in df1.withColumn("s", _content_salt(df1, None, 8)).collect()}
    s8 = {(r.k, r.i): r.s for r in df8.withColumn("s", _content_salt(df8, None, 8)).collect()}
    assert s1 == s8
    hot_buckets = {s for (k, _), s in s1.items() if k == "hot"}
    assert len(hot_buckets) == 8  # 200 rows over 8 buckets: all hit
    assert all(0 <= s < 8 for s in s1.values())


def test_lsh_multiprobe_recall_improves(spark):
    import math

    rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0), (i % 11) / 11.0]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [1.0, 0.05, 0.5]
    exact = {r.vec_id for r in sim.cosine_topk(df, q, k=10).collect()}
    one = {r.vec_id for r in sim.lsh_topk(df, q, k=10, n_planes=4, probes=1).collect()}
    multi = {r.vec_id for r in sim.lsh_topk(df, q, k=10, n_planes=4, probes=4).collect()}
    # multi-probe candidates are a superset of single-probe → recall can
    # only improve
    assert len(multi & exact) >= len(one & exact)
    assert one <= multi | one  # sanity: both sorted subsets of the corpus


def test_lsh_index_partition_pruning(spark, tmp_path):
    """The persisted sign-LSH index that the ``stream-dedup-embeddings``
    store writes must answer probes via partition PRUNING: the scan's
    PartitionFilters carry the lsh_bucket restriction, and the indexed
    answer equals the unindexed lsh_topk answer with the same
    planes/probes."""
    import math

    from commercepulse_data_pipeline_spark.streaming.embeddings import (
        dedup_embeddings_batch,
    )

    rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0), (i % 11) / 11.0]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [1.0, 0.05, 0.5]

    direct = sim.lsh_topk(df, q, k=5, n_planes=4, probes=2).collect()

    store = str(tmp_path / "emb")
    # tau above every cosine: the whole corpus lands in the index
    dedup_embeddings_batch(df, 0, store, tau=1.01, n_planes=4)
    indexed_df = sim.lsh_topk_indexed(spark, f"{store}/index", q, k=5, probes=2)
    indexed = indexed_df.collect()
    assert [(r.vec_id, r.cosine_sim) for r in indexed] == [
        (r.vec_id, r.cosine_sim) for r in direct
    ]

    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "PartitionFilters: [" in final and "lsh_bucket" in final.split("PartitionFilters")[1][:120], plan


def test_ivf_assign_and_topk(spark):
    import math

    rows = [(i, [math.cos(i / 9.0) * (1 + i % 3), math.sin(i / 9.0) * (1 + i % 3), 1.0])
            for i in range(120)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned, cents = sim.ivf_assign(df, n_centroids=6, iters=2)
    # every row gets exactly one centroid in range
    got = assigned.select("centroid_id").distinct().collect()
    assert all(0 <= r.centroid_id < 6 for r in got)
    assert assigned.count() == 120
    # determinism: same input → same assignment
    assigned2, cents2 = sim.ivf_assign(df, n_centroids=6, iters=2)
    assert cents == cents2
    # probe search returns k results, ranked, with decent overlap vs exact
    q = [1.5, 0.5, 1.0]
    exact = [r.vec_id for r in sim.cosine_topk(df, q, k=5).collect()]
    approx = [r.vec_id for r in sim.ivf_topk(assigned, cents, q, k=5, nprobe=3).collect()]
    assert len(approx) == 5
    assert len(set(exact) & set(approx)) >= 3  # recall ≥ 0.6 at nprobe=3/6


def test_rle_counts_matches_counter(spark):
    """Array-side run-length counting over sorted arrays equals a Python
    Counter, including empty and all-equal arrays."""
    from collections import Counter

    cases = [
        [],
        ["a"],
        ["a", "a", "a"],
        ["a", "b", "c"],
        ["a", "a", "b", "b", "b", "c"],
        ["", "", "x"],  # empty-string values are still counted values
        ["a", "a", None, None],  # NULLs are their own run (null-safe boundary)
        [None],
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, arr array<string>"
    )
    out = df.select(
        "i", tx.rle_counts(F.array_sort(F.col("arr"))).alias("rle")
    ).collect()
    for r in out:
        got = {p["value"]: p["cnt"] for p in r.rle}
        assert got == dict(Counter(cases[r.i])), (r.i, got)
        # runs are emitted in array_sort order (NULLs last)
        non_null = [p["value"] for p in r.rle if p["value"] is not None]
        assert non_null == sorted(non_null)


def test_top_ngrams_planted(spark):
    """Global bigram counts + doc frequency with the deterministic
    (count desc, doc-freq desc, gram asc) k-boundary."""
    rows = [
        (1, "a b a b c"),   # bigrams: a b, b a, a b, b c
        (2, "a b x"),       # bigrams: a b, b x
        (3, "solo"),        # no bigrams
        (4, ""),            # no tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r.gram, r.n_occurrences, r.n_docs)
        for r in tx.top_ngrams(df, "text", "doc_id", ngram_n=2, k=3).collect()
    ]
    assert got == [("a b", 3, 2), ("b a", 1, 1), ("b c", 1, 1)]

    # per-doc distinct-gram rows feeding the agg: counting happened
    # array-side, so doc 1 contributes ONE row for "a b" with cnt=2
    counts = {
        (r.doc_id, r.gram): r.cnt
        for r in tx.ngram_doc_counts(df, "text", "doc_id", ngram_n=2).collect()
    }
    assert counts[(1, "a b")] == 2 and counts[(2, "a b")] == 1
    assert (3, "solo") not in counts and len([k for k in counts if k[0] >= 3]) == 0


def test_chunk_documents_sliding_windows(spark):
    """Overlapping chunk arithmetic: stride windows, short-doc single
    chunk, empty doc omitted, stride<=max_tokens guard, and the
    model twin (pure Python) agrees on every chunk."""
    import pytest as _pytest

    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),
        (2, "a b"),
        (3, ""),
        (4, " ".join(f"w{i}" for i in range(5))),  # exactly > one window
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_tokens, r.chunk_text)
        for r in tx.chunk_documents(df, max_tokens=4, stride=2).collect()
    }

    def model(text, max_tokens=4, stride=2):
        toks = [t for t in text.lower().split() if t]
        if not toks:
            return {}
        n_chunks = (max(len(toks) - max_tokens, 0) + stride - 1) // stride + 1
        return {
            i: (min(max_tokens, len(toks) - i * stride),
                " ".join(toks[i * stride : i * stride + max_tokens]))
            for i in range(n_chunks)
        }

    expect = {
        (doc_id, i): v for doc_id, text in rows for i, v in model(text).items()
    }
    assert got == expect
    assert (3, 0) not in got                       # empty doc -> no chunks
    assert got[(2, 0)] == (2, "a b")               # short doc -> one chunk

    with _pytest.raises(ValueError):
        tx.chunk_documents(df, max_tokens=4, stride=5)


def test_minhash_incremental_index_lifecycle(spark, tmp_path):
    """Persisted MinHash index: batch 1 dedups against the indexed
    corpus (planted near-dup found), update_index=True appends batch 1's
    bands, and batch 2 then finds its near-dup to a BATCH-1 doc without
    any corpus re-band. The new side must broadcast (plan-asserted)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different content about cooking pasta sauce"),
         (3, "third document with its own unique words entirely")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "mh_index")
    dd.write_minhash_index(corpus, idx, num_hashes=8, bands=4, shingle_n=3)
    meta = dd.read_minhash_index_meta(spark, idx)
    assert int(meta["bands"]) == 4 and meta["text_col"] == "text"

    batch1 = spark.createDataFrame(
        [(10, base + " tonight"), (11, "nothing like anything indexed before")],
        ["doc_id", "text"],
    )
    pairs1 = dd.minhash_pairs_incremental(batch1, spark, idx, update_index=True)
    got1 = {(r.id_a, r.id_b) for r in pairs1.collect()}
    assert (1, 10) in got1          # near-dup of the indexed doc found
    assert not any(11 in p for p in got1)

    # batch 2's dup partner is a BATCH-1 doc — only findable because
    # update_index appended batch 1's bands
    batch2 = spark.createDataFrame(
        [(20, base + " tonight as well")], ["doc_id", "text"]
    )
    got2 = {(r.id_a, r.id_b) for r in
            dd.minhash_pairs_incremental(batch2, spark, idx).collect()}
    assert (10, 20) in got2 and (1, 20) in got2

    # scale posture: the new batch is the broadcast side
    plan = dd.minhash_pairs_between(
        batch2, spark.read.parquet(f"{idx}/bands")
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_doc_keywords_tfidf_ranking(spark):
    """tf·idf keywords: corpus-common terms rank below doc-specific
    terms, rational scoring matches the model, ranks are deterministic
    on ties (token asc)."""
    rows = [
        (1, "spark spark engine shared"),
        (2, "pasta recipe shared"),
        (3, "shared words everywhere shared"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tx.doc_keywords(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.token, r.tf, r.df_count, r.score))
    # doc 1: 'spark' tf=2 df=1 -> 2*4/2=4.0 beats 'engine' 1*4/2=2.0;
    # 'shared' df=3 -> 1*4/4=1.0 never makes top-2
    assert by_doc[1] == [(1, "spark", 2, 1, 4.0), (2, "engine", 1, 1, 2.0)]
    assert all(t != "shared" for _, t, *_ in by_doc[2])
    # doc 3: 'shared' tf=2 still wins over df-1 singles (2*4/4=2.0 vs 1*4/2=2.0
    # tie -> token asc puts 'everywhere' first among the 2.0 scores)
    assert by_doc[3][0][1] in ("everywhere", "shared")


def test_unigram_cross_entropy_ranks_rare_words_higher(spark):
    """LM quality proxy: a doc of corpus-dominant words scores fewer
    bits/token than a doc of corpus-unique words; values match the
    closed-form add-1 model."""
    import math

    rows = [
        (1, "common common common common"),
        (2, "common common common rareword"),
        (3, "unique1 unique2 unique3 unique4"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in tx.unigram_cross_entropy(df).collect()}
    assert got[1].bits_per_token < got[2].bits_per_token < got[3].bits_per_token
    # closed form: N=12 tokens, V=6 distinct; common c=7, p=(7+1)/18
    assert got[1].n_tokens == 4
    assert got[1].bits_per_token == round(-math.log2(8 / 18), 4)


def test_corpus_diff_all_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.status for r in dd.corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_corpus_diff_null_content_uses_id_presence(spark):
    """ADVICE r6: presence must be id-presence, not hash-nullity — a doc
    present with NULL content is still present (added/removed go by id),
    and NULL content compares null-safely (NULL vs NULL → unchanged,
    NULL vs text → changed)."""
    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id int, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "y"), (4, None)], "doc_id int, text string"
    )
    got = {r.doc_id: r.status for r in dd.corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_build_vocab_and_encode_documents(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "zebra"),
        ],
        ["doc_id", "text"],
    )
    # vocab capped at 3: 'the'(3) -> 1, 'sat'(2) -> 2, then count-1 ties
    # break lexicographically: 'cat' -> 3; dog/mat/on/zebra are OOV.
    vocab = {r.token: r.vocab_id for r in tx.build_vocab(docs, size=3).collect()}
    assert vocab == {"the": 1, "sat": 2, "cat": 3}
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.encoded_prefix)
        for r in tx.encode_documents(
            docs, tx.build_vocab(docs, size=3), prefix=4
        ).collect()
    }
    assert got[1] == (6, 2, "1|3|2|0")   # the cat sat on -> 1 3 2 OOV; on+mat OOV
    assert got[2] == (3, 1, "1|0|2")     # the dog sat
    assert got[3] == (1, 1, "0")         # zebra alone, all OOV


def test_ordered_funnel_greedy_semantics(spark):
    """ordered_funnel: greedy-from-first matching — step k matches the
    earliest same-type event STRICTLY after step k-1's match. Events
    before the previous match never count; a missing middle step leaves
    every later step NULL; ties on the first step resolve to the min
    timestamp; a user with only later steps never enters the funnel."""
    from commercepulse_data_pipeline_spark.operators.windows import ordered_funnel

    TS = "2024-03-01 00:00:{:02d}"
    rows = [
        # u1: clean completion, with a click BEFORE the view (ignored)
        (1, TS.format(5), "click"), (1, TS.format(10), "view"),
        (1, TS.format(20), "click"), (1, TS.format(30), "purchase"),
        # u2: purchase arrives BETWEEN view and click → no completion
        (2, TS.format(10), "view"), (2, TS.format(15), "purchase"),
        (2, TS.format(20), "click"),
        # u3: missing click entirely; purchase after view
        (3, TS.format(10), "view"), (3, TS.format(40), "purchase"),
        # u4: never views — not in the funnel at all
        (4, TS.format(1), "click"), (4, TS.format(2), "purchase"),
        # u5: two views — greedy anchors on the FIRST; click equal to the
        # first view's timestamp does NOT match (strictly after)
        (5, TS.format(10), "view"), (5, TS.format(12), "view"),
        (5, TS.format(10), "click"), (5, TS.format(11), "click"),
        (5, TS.format(13), "purchase"),
    ]
    ev = spark.createDataFrame(
        [(u, t, k) for u, t, k in rows], "user_id long, ts string, event_type string"
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "event_type")
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in ordered_funnel(ev, ["view", "click", "purchase"]).collect()
    }
    sec = lambda r: None if r is None else r.second  # noqa: E731
    assert set(got) == {1, 2, 3, 5}
    assert tuple(map(sec, got[1])) == (10, 20, 30)
    assert tuple(map(sec, got[2])) == (10, 20, None)  # purchase pre-click ignored
    assert tuple(map(sec, got[3])) == (10, None, None)
    assert tuple(map(sec, got[5])) == (10, 11, 13)  # strictly-after: 00:11 click


def test_skew_report_exact_stats_and_salt_recommendation(spark):
    """Constructed skew: 99 singleton keys + one 300-row hot key. The
    quantiles are exact inverted-CDF values at integer ranks, the ratio
    and salt width follow, and top_keys lists the heaviest first with a
    deterministic count-then-key tiebreak."""
    from commercepulse_data_pipeline_spark.operators.skew import skew_report

    rows = [(f"k{i:02d}",) for i in range(99)] + [("hot",)] * 300
    df = spark.createDataFrame(rows, "k string")
    (r,) = skew_report(df, ["k"], top_n=3).collect()
    assert (r["n_rows"], r["n_keys"], r["max_cnt"]) == (399, 100, 300)
    # ranks: r50 = ceil(50*100/100) = 50 → cnt 1; r99 = 99 → cnt 1
    assert (r["p50_cnt"], r["p99_cnt"]) == (1, 1)
    assert r["skew_ratio"] == 300.0
    assert r["rec_salt_buckets"] == 300
    assert r["top_keys"] == "hot,k00,k01"  # count desc, then key asc

    # uniform control: ratio 1, no salt needed
    uni = spark.createDataFrame([(i % 10,) for i in range(1000)], "k int")
    (u,) = skew_report(uni, ["k"]).collect()
    assert (u["p50_cnt"], u["max_cnt"], u["rec_salt_buckets"]) == (100, 100, 1)
    assert u["skew_ratio"] == 1.0

    # two key columns → two rows, labeled
    two = skew_report(
        spark.createDataFrame([(1, "a"), (1, "b"), (2, "a")], "x int, y string"),
        ["x", "y"],
    ).collect()
    assert [t["key_col"] for t in two] == ["x", "y"]
    assert [t["max_cnt"] for t in two] == [2, 2]


def test_collocations_lift_exact_and_ranking(spark):
    """A planted collocation ("new york": its words appear ONLY together)
    gets the maximal lift; a frequent-but-independent pair ranks below
    it; the lift value is the exact closed-form ratio."""
    from commercepulse_data_pipeline_spark.operators.text import collocations

    # 10 docs: each has "new york" once plus filler where "the" and "cat"
    # co-occur sometimes but also appear apart
    docs = []
    for i in range(10):
        filler = "the cat" if i % 2 == 0 else "the dog cat mouse"
        docs.append((i, f"new york {filler}"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = collocations(df, "text", "doc_id", min_count=5, k=10).collect()
    by_gram = {r["gram"]: r for r in out}

    ny = by_gram["new york"]
    # totals: tokens N = 10*2 + 5*2 + 5*4 = 50; bigrams M = sum(len-1) =
    # 5*3 + 5*5 = 40; n_ab=10, n_a=n_b=10
    assert (ny["n_ab"], ny["n_a"], ny["n_b"]) == (10, 10, 10)
    expect = (10 / 40) / ((10 / 50) * (10 / 50))
    assert ny["lift"] == round(expect, 6)
    # "the cat" occurs 5 times but its words also appear apart → lower lift
    assert by_gram["the cat"]["lift"] < ny["lift"]
    assert out[0]["gram"] in ("new york", "york the")  # top by lift


def test_embedding_gram_and_pca_match_numpy(spark):
    """Distributed Gram ≡ numpy X.T @ X (to the decimal-accumulation
    rounding)."""
    import numpy as np

    rng = np.random.default_rng(7)
    # anisotropic cloud: PC1 variance dominates along a planted direction
    base = rng.normal(size=(200, 6)) * np.array([5.0, 2.0, 1.0, 0.5, 0.2, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r["i"], r["j"]): r["gram"]
        for r in sim.embedding_gram(df, "embedding").collect()
    }
    xf = base.astype(np.float32).astype(np.float64)  # the float-column view
    expect = xf.T @ xf
    assert len(got) == 6 * 7 // 2
    for (i, j), g in got.items():
        assert abs(g - expect[i][j]) < 1e-3, (i, j)


def test_robust_anomalies_median_mad_flags(spark):
    """Planted outliers: a flat series with two spikes — median/MAD flag
    exactly the spikes (a mean/stddev gate would drag toward them); the
    all-identical series flags nothing (MAD floors at 1 tick)."""
    rows = [(f"d{i:02d}", 100) for i in range(20)]
    rows[5] = ("d05", 1000)   # +9x spike
    rows[11] = ("d11", 3)     # collapse
    df = spark.createDataFrame(rows, "day string, v long")
    out = win.robust_anomalies(df, "v", "day", k_mad=3).collect()
    flagged = {r["day"] for r in out if r["is_anomaly"] == 1}
    assert flagged == {"d05", "d11"}
    r = [x for x in out if x["day"] == "d05"][0]
    # mad_value is the RAW MAD (0 here: >=11 of 20 deviations are 0);
    # the 1-tick floor applies only inside the flag comparison
    assert (r["median_value"], r["mad_value"], r["abs_dev"]) == (100, 0, 900)
    # MAD is 0 here (>=11 of 20 deviations are 0) → floored to 1 tick,
    # so |dev| must exceed 3 to flag; constant series flags nothing
    flat = spark.createDataFrame([(f"d{i}", 7) for i in range(9)], "day string, v long")
    assert all(
        x["is_anomaly"] == 0 for x in win.robust_anomalies(flat, "v", "day").collect()
    )


def test_robust_anomalies_pin_opt_out_same_output(spark):
    """pin_input=False (the unbounded-caller escape hatch, ADVICE r15)
    must not change the flags — only the lineage-cut behaviour."""
    rows = [(f"d{i:02d}", 100) for i in range(20)]
    rows[5] = ("d05", 1000)
    df = spark.createDataFrame(rows, "day string, v long")
    a = win.robust_anomalies(df, "v", "day", k_mad=3)
    b = win.robust_anomalies(df, "v", "day", k_mad=3, pin_input=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pin_policy_reliable_checkpoint_same_output(spark, tmp_path):
    """The module-level pin policy (r16, VERDICT r15 item 5): with a
    reliable checkpoint_dir set, every operator pin site switches from
    localCheckpoint to fault-tolerant DataFrame.checkpoint — outputs
    must be identical and checkpoint files must actually land in the
    directory."""
    import os
    from urllib.parse import urlparse

    from commercepulse_data_pipeline_spark.functions.pins import (
        get_pin_policy,
        set_pin_policy,
    )
    from commercepulse_data_pipeline_spark.operators.sampling import (
        temperature_mixture,
    )

    rows = [(i, ["en", "en", "en", "de"][i % 4]) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    base = sorted(
        (r.doc_id, r.lang)
        for r in temperature_mixture(df, "lang", "doc_id", target_frac=0.5).collect()
    )
    ckpt = str(tmp_path / "reliable_pins")
    set_pin_policy(checkpoint_dir=ckpt)
    try:
        assert get_pin_policy() == ckpt
        # the policy set the SparkContext's checkpoint dir before any pin
        # ran (Spark appends a per-context subdirectory)
        got = spark.sparkContext.getCheckpointDir()
        assert got is not None and urlparse(got).path.startswith(ckpt + "/")
        reliable = sorted(
            (r.doc_id, r.lang)
            for r in temperature_mixture(
                df, "lang", "doc_id", target_frac=0.5
            ).collect()
        )
        anomalies = win.robust_anomalies(
            spark.createDataFrame(
                [(f"d{i}", 100 if i != 3 else 900) for i in range(9)],
                "day string, v long",
            ),
            "v",
            "day",
        ).collect()
    finally:
        set_pin_policy(checkpoint_dir=None)
    assert reliable == base
    assert {r["day"] for r in anomalies if r["is_anomaly"] == 1} == {"d3"}
    # the reliable path really wrote checkpoint files
    assert os.path.isdir(ckpt) and any(os.scandir(ckpt))
    assert get_pin_policy() is None


def test_pq_train_encode_topk_and_index(spark, tmp_path):
    """Product quantization: codebooks train deterministically (decimal
    Lloyd, md5 init), codes reconstruct cluster membership on a planted
    corpus, ADC distances equal a pure-Python replay of the same LUT
    arithmetic, refine re-ranks exactly, and the persisted index answers
    identically without the raw vectors."""
    from commercepulse_data_pipeline_spark.operators import similarity as sim

    # planted corpus: two tight clusters in an 8-dim space (m=2 -> 4-dim
    # subspaces), plus the query's exact twin
    import random

    rng = random.Random(7)
    rows = []
    for i in range(30):
        base = [1.0] * 4 + [0.0] * 4 if i % 2 == 0 else [0.0] * 4 + [1.0] * 4
        rows.append((i, [v + rng.uniform(-0.05, 0.05) for v in base]))
    rows.append((100, [1.0] * 4 + [0.0] * 4))  # exact cluster-A center
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    books = sim.pq_train(df, m=2, n_codes=4, iters=1)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    # training twice is bit-identical (no RNG anywhere)
    assert books == sim.pq_train(df, m=2, n_codes=4, iters=1)

    enc = sim.pq_encode(df, books)
    qvec = [1.0] * 4 + [0.0] * 4
    top = sim.pq_topk(enc, books, qvec, k=10)
    got = [(r["vec_id"], r["approx_d2"]) for r in top.collect()]
    # every top-10 hit is from cluster A (even ids / the planted twin)
    assert all(v == 100 or v % 2 == 0 for v, _ in got), got

    # ADC values equal the Python replay of the same LUT + ordered fold
    lut = sim._pq_lut(books, qvec)
    codes = {r["vec_id"]: list(r["pq_code"]) for r in enc.collect()}
    for vid, appd in got:
        acc = 0.0
        for j, c in enumerate(codes[vid]):
            acc += lut[j][c]
        assert appd == round(acc, 6), (vid, appd, acc)

    # refine: exact cosine re-rank puts the planted twin first
    # refine=20 > the 16 identical-code cluster-A members: ADC ties
    # break by id asc, so a smaller refine would cut the id-100 twin
    ref = sim.pq_topk(enc, books, qvec, k=3, refine=20)
    assert ref.collect()[0]["vec_id"] == 100

    # persisted index: identical answers, vectors never read
    p = str(tmp_path / "pq")
    sim.write_pq_index(enc, p, books=books)
    got2 = [
        (r["vec_id"], r["approx_d2"])
        for r in sim.pq_topk_indexed(spark, p, qvec, k=10).collect()
    ]
    assert got2 == got
    # the ADC scan is join-free: pure projection + TakeOrdered
    plan = (
        sim.pq_topk_indexed(spark, p, qvec, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan


def test_pq_train_null_ids_and_nondeterministic_lineage(spark):
    """pq_train init ranks only non-NULL ids (an ``isin`` fetch can never
    return a NULL id, which used to surface as ``KeyError: None``), while
    NULL-id vectors still move the Lloyd means; a corpus whose two init
    scans disagree on ids fails with a ValueError naming them."""
    from pyspark.sql.types import StringType

    from commercepulse_data_pipeline_spark.operators import similarity as sim

    rows = [(i, [float(i % 3), 1.0, float(i % 2), 0.5]) for i in range(9)]
    rows.append((None, [9.0, 9.0, 9.0, 9.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    known = df.where(F.col("vec_id").isNotNull())

    books = sim.pq_train(df, m=2, n_codes=4, iters=1)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    # same init as the corpus without the NULL row ...
    assert sim.pq_train(df, m=2, n_codes=4, iters=0) == sim.pq_train(
        known, m=2, n_codes=4, iters=0
    )
    # ... but the NULL-id vector is in the Lloyd means
    assert books != sim.pq_train(known, m=2, n_codes=4, iters=1)

    fresh_id = F.udf(lambda: uuid.uuid4().hex, StringType()).asNondeterministic()
    drifting = spark.range(6).select(
        fresh_id().alias("vec_id"), F.array(F.lit(1.0), F.lit(2.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="not returned by the second corpus scan"):
        sim.pq_train(drifting, m=2, n_codes=2, iters=0)


def test_pq_knn_join_and_recall_at_k(spark):
    """Batch ADC join: every query row gets compressed-domain top-k from
    the codes table alone; recall@k against exact knn_join ground truth
    is high on clustered data (the codes separate the clusters) and the
    harness reports per-query hit counts correctly."""
    from commercepulse_data_pipeline_spark.operators import similarity as sim

    import random

    rng = random.Random(3)
    rows = []
    for i in range(40):
        base = [1.0] * 4 + [0.0] * 4 if i % 2 == 0 else [0.0] * 4 + [1.0] * 4
        rows.append((i, [v + rng.uniform(-0.05, 0.05) for v in base]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id").isin([0, 1, 2, 3]))

    books = sim.pq_train(corpus, m=2, n_codes=4, iters=1)
    codes = sim.pq_encode(corpus, books).select("vec_id", "pq_code")

    approx = sim.pq_knn_join(codes, queries, books, k=10)
    # compressed-domain neighbors of an even (cluster-A) query are all
    # cluster A — the codebooks separate the clusters
    a_neigh = {r["neighbor_id"] for r in approx.where(F.col("query_id") == 0).collect()}
    assert all(v % 2 == 0 for v in a_neigh)

    exact = sim.knn_join(corpus, queries, k=10, exclude_self=False)
    rec = sim.recall_at_k(exact, approx, k=10)
    got = {r["query_id"]: r for r in rec.collect()}
    assert set(got) == {0, 1, 2, 3}
    # within-cluster ranks are ADC-tied (shared codes) so ordering inside
    # the cluster is arbitrary — but every retrieved item is in-cluster,
    # and with 20-member clusters recall@10 of in-cluster truth stays high
    assert all(r["n_true"] == 10 for r in got.values())
    assert all(r["recall"] >= 0.5 for r in got.values()), got
    # degenerate approx: empty result -> recall 0, n_hit 0
    empty = approx.where(F.lit(False))
    rec0 = sim.recall_at_k(exact, empty, k=10).collect()
    assert all(r["recall"] == 0.0 and r["n_hit"] == 0 for r in rec0)


def test_ivfpq_index_residual_coding_and_pruned_probe(spark, tmp_path):
    """IVF+PQ: residual coding inside coarse lists recovers the true
    nearest cluster through partition-pruned probes; the probe plan
    touches only the probed lists (PartitionFilters on centroid_id) and
    never reads the raw vector column."""
    from commercepulse_data_pipeline_spark.operators import similarity as sim

    import random

    rng = random.Random(5)
    rows = []
    for i in range(60):
        which = i % 3
        base = {0: [1.0, 0, 0, 0, 0, 0, 0, 0],
                1: [0, 0, 1.0, 0, 0, 0, 0, 0],
                2: [0, 0, 0, 0, 1.0, 0, 0, 0]}[which]
        rows.append((i, [v + rng.uniform(-0.05, 0.05) for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    p = str(tmp_path / "ivfpq")
    sim.write_ivfpq_index(df, p, n_centroids=3, m=2, n_codes=4, iters=1)

    qvec = [1.0, 0, 0, 0, 0, 0, 0, 0]
    got = sim.ivfpq_topk(spark, p, qvec, k=10, nprobe=1)
    ids = [r["vec_id"] for r in got.collect()]
    assert len(ids) == 10
    # with 3 well-separated clusters and nprobe=1, every hit should come
    # from the query's cluster (vec_id % 3 == 0)
    assert all(v % 3 == 0 for v in ids), ids

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in plan          # raw vectors never read
    assert "PartitionFilters" in plan, plan  # probe = partition pruning


def test_fuzzy_text_join_cross_table_exact(spark):
    """Cross-table fuzzy join: near-identical rows across two tables pair
    at their exact Jaccard, intra-table near-dups are NOT emitted, id
    types are restored, and direction is (left, right) regardless of the
    surrogate ordering."""
    left = spark.createDataFrame(
        [(10, "a b c d e f"), (11, "x y z w q r"), (12, "m n o p q r")],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [(90, "a b c d e f"),     # exact twin of left 10
         (91, "a b c d e zz"),    # near twin of left 10
         (92, "completely different tokens here")],
        ["doc_id", "text"],
    )
    out = dd.fuzzy_text_join(
        left, right, threshold=0.4, shingle_n=3, max_shingle_freq=100000
    )
    rows = {(r["doc_id_left"], r["doc_id_right"]): r["jaccard"]
            for r in out.collect()}
    assert rows[(10, 90)] == 1.0
    assert 0.4 <= rows[(10, 91)] < 1.0
    assert all(k[0] in (10, 11, 12) and k[1] in (90, 91, 92) for k in rows)
    assert (11, 92) not in rows
    # id dtypes restored (long, not the string surrogates)
    schema = dict((f.name, f.dataType.simpleString()) for f in out.schema)
    assert schema["doc_id_left"] == "bigint"
    assert schema["doc_id_right"] == "bigint"


def test_ivfpq_refine_ranks_members(spark, tmp_path):
    """Pure ADC ranks CLUSTERS (within-list members tie on shared codes);
    the refine stage ranks MEMBERS: with refine, the query's exact
    nearest neighbor wins, which pure ADC's id-tiebreak cannot
    guarantee."""
    from commercepulse_data_pipeline_spark.operators import similarity as sim

    import math
    import random

    rng = random.Random(13)
    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 0.0, 1.0, 0.0]
        v = [x + rng.gauss(0, 0.05) for x in base]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    p = str(tmp_path / "ivfpq")
    sim.write_ivfpq_index(df, p, n_centroids=2, m=2, n_codes=4, iters=1)

    # query = an actual member's vector: its exact top-1 is itself
    target = rows[6]
    got = sim.ivfpq_topk(
        spark, p, list(target[1]), k=1, nprobe=1, refine=20, corpus=df
    ).collect()
    assert got[0]["vec_id"] == target[0]
    assert got[0]["cosine_sim"] == 1.0
    # refine without corpus raises up front
    import pytest as _pytest
    with _pytest.raises(ValueError, match="corpus"):
        sim.ivfpq_topk(spark, p, list(target[1]), k=1, refine=5)


def test_pq_fractional_refine_holds_recall_as_corpus_grows(spark, tmp_path):
    """VERDICT r9 item 5: a FIXED refine width silently loses recall as
    the corpus grows (SCALE.md sf0.1 probe: recall@100 fell 0.68→~0.33 at
    4× corpus); the fractional form scales the ADC shortlist with the
    data. Pin: on a clustered unit-norm fixture, refine=0.3 (fraction of
    corpus) holds recall@10 = 1.0 as the corpus DOUBLES, because the
    shortlist always covers the query's whole nearest cluster; the
    resolved absolute width demonstrably grows with n."""
    from commercepulse_data_pipeline_spark.operators import similarity as sim

    import math
    import random

    def clustered(n_per: int):
        rng = random.Random(7)
        dirs = []
        for _ in range(4):
            v = [rng.gauss(0, 1) for _ in range(8)]
            nrm = math.sqrt(sum(x * x for x in v))
            dirs.append([x / nrm for x in v])
        rows, vid = [], 0
        for d in dirs:
            for _ in range(n_per):
                v = [x + rng.gauss(0, 0.05) for x in d]
                nrm = math.sqrt(sum(x * x for x in v))
                rows.append((vid, [x / nrm for x in v]))
                vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def recall(corpus, frac_or_width):
        qvec = list(corpus.where(F.col("vec_id") == 0).head()["embedding"])
        books = sim.pq_train(corpus, m=2, n_codes=4, iters=1)
        enc = sim.pq_encode(corpus, books)
        approx = sim.pq_topk(enc, books, qvec, k=10, refine=frac_or_width)
        exact = sim.cosine_topk(corpus, qvec, 10)
        a = {r["vec_id"] for r in approx.collect()}
        t = {r["vec_id"] for r in exact.collect()}
        return len(a & t) / len(t)

    small, doubled = clustered(30), clustered(60)
    # fractional: recall 1.0 held as the corpus doubles
    assert recall(small, 0.3) == 1.0
    assert recall(doubled, 0.3) == 1.0
    # the resolved width scales with n (and floors at k)
    assert sim._resolve_refine(0.3, 10, lambda: 120) == 36
    assert sim._resolve_refine(0.3, 10, lambda: 240) == 72
    assert sim._resolve_refine(0.3, 10, lambda: 10) == 10
    assert sim._resolve_refine(25, 10, lambda: 0) == 25  # int passthrough
    assert sim._resolve_refine(0.0, 10, lambda: 0) == 0  # float zero = off
    import pytest as _pytest
    with _pytest.raises(ValueError, match="fractional refine"):
        sim._resolve_refine(1.5, 10, lambda: 0)
    with _pytest.raises(ValueError, match="fractional refine"):
        sim._resolve_refine(1.0, 10, lambda: 0)
    # ivfpq accepts the fractional form on the persisted serving path
    p = str(tmp_path / "ivfpq_frac")
    sim.write_ivfpq_index(small, p, n_centroids=4, m=2, n_codes=4, iters=1)
    qvec = list(small.where(F.col("vec_id") == 0).head()["embedding"])
    got = sim.ivfpq_topk(
        spark, p, qvec, k=10, nprobe=2, refine=0.5, corpus=small
    )
    exact = {r["vec_id"] for r in sim.cosine_topk(small, qvec, 10).collect()}
    assert {r["vec_id"] for r in got.collect()} == exact


def test_strip_boilerplate_scoped_no_canonical(spark):
    """Per-source boilerplate stripping: a template window recurring in
    >= min_docs docs OF THE SAME source is removed from EVERY occurrence
    (no canonical survivor); the same text appearing in a different
    source below that source's threshold is untouched (scope isolation);
    cross-source sharing alone never trips the threshold."""
    tpl = "subscribe to our newsletter for updates"  # 6 tokens
    rows = [
        (1, "A", f"story one begins here {tpl} and ends"),
        (2, "A", f"story two other words {tpl} trailing text"),
        (3, "B", f"unique b content {tpl} more b stuff"),   # 1 doc in B
        (4, "B", "b only words nothing shared at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = tx.strip_boilerplate(
        df, window_tokens=6, min_docs=2
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # both A docs lose the template (no canonical kept)
    assert tpl not in got[1]["text_stripped"]
    assert tpl not in got[2]["text_stripped"]
    assert got[1]["n_tokens_removed"] == 6
    assert "story one begins here" in got[1]["text_stripped"]
    assert "and ends" in got[1]["text_stripped"]
    # B's single occurrence survives: counts are per-source
    assert tpl in got[3]["text_stripped"]
    assert got[3]["n_tokens_removed"] == 0
    assert got[4]["n_tokens_removed"] == 0
    # schema contract
    assert set(out.columns) == {
        "doc_id", "source", "text", "text_stripped",
        "n_tokens", "n_tokens_removed", "n_boiler_windows",
    }


def test_dsir_importance_ranks_target_like_docs(spark):
    """DSIR: raw docs made of target-typical features get higher
    log-ratio weights than off-target docs; the weight equals a pure
    Python replay of the hashed-bigram bag model (bucket hashing,
    add-1 smoothing, decimal(30,4)-quantized per-feature log2 ratios)."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal
    import math

    from commercepulse_data_pipeline_spark.operators.sampling import (
        dsir_importance,
    )

    target_rows = [(100 + i, "wiki words about science and math topics")
                   for i in range(3)]
    raw_rows = [
        (1, "science and math topics in wiki words"),
        (2, "spam click buy now cheap deals spam click"),
    ]
    tgt = spark.createDataFrame(target_rows, "doc_id long, text string")
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    B, SALT = 64, "dsir-v1:"
    out = {r["doc_id"]: r for r in
           dsir_importance(raw, tgt, n_buckets=B).collect()}
    assert out[1]["dsir_logratio"] > out[2]["dsir_logratio"]

    # pure-Python model twin
    def feats(text):
        toks = text.lower().split()
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        return int(hashlib.md5((SALT + f).encode()).hexdigest()[:8], 16) % B

    raw_c, tgt_c = {}, {}
    for _, t in raw_rows:
        for f in feats(t):
            raw_c[bucket(f)] = raw_c.get(bucket(f), 0) + 1
    for _, t in target_rows:
        for f in feats(t):
            tgt_c[bucket(f)] = tgt_c.get(bucket(f), 0) + 1
    R, T = sum(raw_c.values()), sum(tgt_c.values())
    for doc_id, t in raw_rows:
        fs = feats(t)
        w = Decimal(0)
        for f in fs:
            b = bucket(f)
            lr = (math.log2((tgt_c.get(b, 0) + 1) / (T + B))
                  - math.log2((raw_c[b] + 1) / (R + B)))
            w += Decimal(repr(lr)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP)
        expect = float(w.quantize(Decimal("0.0001"),
                                  rounding=ROUND_HALF_UP))
        assert out[doc_id]["n_feats"] == len(fs)
        assert abs(out[doc_id]["dsir_logratio"] - expect) < 1e-9, (
            doc_id, out[doc_id]["dsir_logratio"], expect)


def test_hard_negatives_band_and_rank(spark):
    """Hard-negative mining: self and out-of-band (too-similar /
    too-dissimilar) neighbors are excluded; in-band neighbors rank by
    rounded cosine desc with id tiebreak."""
    import math

    # query = e0; corpus engineered at known cosines to e0
    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    e0 = unit([1.0, 0.0, 0.0, 0.0])

    def at_cos(c, other_axis):
        s = math.sqrt(1 - c * c)
        v = [c, 0.0, 0.0, 0.0]
        v[other_axis] = s
        return unit(v)

    rows = [
        (0, e0),                 # self — excluded
        (1, at_cos(0.95, 1)),    # near-dup: above sim_hi — excluded
        (2, at_cos(0.60, 1)),    # in band
        (3, at_cos(0.40, 2)),    # in band
        (4, at_cos(0.60, 3)),    # in band, ties with 2 -> id tiebreak
        (5, at_cos(0.05, 1)),    # below sim_lo — excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    out = sim.hard_negatives(df, q, k=5, sim_lo=0.2, sim_hi=0.9).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in out]
    assert got == [(2, 1), (4, 2), (3, 3)]
    assert all(0.2 <= r["cosine_sim"] < 0.9 for r in out)


def test_bigram_cross_entropy_sees_word_order(spark):
    """bigram CE scores ORDER: with a corpus dominated by 'sun rises
    east' transitions, the doc using the common transitions scores lower
    bits than the same words reversed; sub-2-token docs drop out (no
    bigrams); counts replay the add-1 arithmetic."""
    rows = [(i, "the sun rises in the east") for i in range(10)]
    rows += [(100, "the sun rises in the east"),
             (101, "east the in rises sun the"),   # same bag, rare order
             (102, "solo")]                          # no bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           tx.bigram_cross_entropy(df).collect()}
    assert 102 not in out
    assert out[100]["n_bigrams"] == 5 and out[101]["n_bigrams"] == 5
    assert out[100]["bits_per_bigram"] < out[101]["bits_per_bigram"]
    # unigram CE cannot separate them (identical bags)
    uni = {r["doc_id"]: r["bits_per_token"] for r in
           tx.unigram_cross_entropy(df).collect()}
    assert uni[100] == uni[101]


def test_temperature_mixture_rebalances_toward_sqrt(spark):
    """α=0.5 temperature sampling: head group downsamples hardest, the
    smallest group keeps (nearly) everything, overall kept ≈ target_frac,
    and the selection is content-keyed (identical across reruns and
    partitionings)."""
    from commercepulse_data_pipeline_spark.operators.sampling import (
        temperature_mixture,
    )

    rows = []
    did = 0
    for lang, n in (("en", 1600), ("fr", 400), ("yo", 100)):
        for _ in range(n):
            rows.append((did, lang))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_mixture(df, "lang", "doc_id", target_frac=0.5)
    got = {r["lang"]: r["n"] for r in
           kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # expected keeps: budget=1050, weights 40/20/10 -> 600/300/150
    rates = {"en": 600 / 1600, "fr": 300 / 400, "yo": 1.0}
    for lang, n in (("en", 1600), ("fr", 400), ("yo", 100)):
        exp = rates[lang] * n
        assert abs(got[lang] - exp) <= 4 * (exp * (1 - rates[lang]) + 1) ** 0.5, (
            lang, got[lang], exp)
    # yo keeps everything (rate clamps at 1)
    assert got["yo"] == 100
    # determinism under repartitioning
    again = temperature_mixture(
        df.repartition(7), "lang", "doc_id", target_frac=0.5
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == \
           sorted(r["doc_id"] for r in again.collect())


def test_hashed_doc_vectors_unit_norm_and_composition(spark):
    """Hashing-trick vectors: L2-normalized, deterministic buckets,
    zero-token docs drop; the output composes with the vector stack
    (cosine_topk finds the bag-identical doc at sim 1.0)."""
    from commercepulse_data_pipeline_spark.operators.text import (
        hashed_doc_vectors,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"),
         (2, "beta alpha alpha gamma"),   # same bag, different order
         (3, "delta epsilon zeta eta"),
         (4, "")],
        "doc_id long, text string",
    )
    out = hashed_doc_vectors(df, dim=16)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 4 not in rows
    for r in rows.values():
        assert abs(sum(v * v for v in r["vector"]) - 1.0) < 1e-12
    assert rows[1]["vector"] == rows[2]["vector"]  # bag model
    # composes with cosine_topk: doc 2 is doc 1's perfect neighbor
    vecs = out.select("doc_id", F.col("vector").alias("embedding"))
    qv = rows[1]["vector"]
    top = sim.cosine_topk(
        vecs.where(F.col("doc_id") != 1), list(qv), 1, id_col="doc_id"
    ).head()
    assert top["doc_id"] == 2 and top["cosine_sim"] == 1.0


def test_hashed_doc_vectors_tfidf_downweights_common_buckets(spark):
    """tfidf weighting: a token present in EVERY doc contributes less
    direction than a rare one — two docs sharing only the ubiquitous
    token are less cosine-similar under tfidf than under raw tf; unit
    norm holds; unknown weighting rejects."""
    import math

    from commercepulse_data_pipeline_spark.operators.text import (
        hashed_doc_vectors,
    )

    rows = [
        (1, "common rare1"),
        (2, "common rare2"),
        (3, "common rare3"),
        (4, "common rare4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def cos12(weighting):
        vecs = {r["doc_id"]: r["vector"] for r in
                hashed_doc_vectors(df, dim=32, weighting=weighting).collect()}
        return sum(a * b for a, b in zip(vecs[1], vecs[2]))

    for w in ("tf", "tfidf"):
        for r in hashed_doc_vectors(df, dim=32, weighting=w).collect():
            assert abs(sum(v * v for v in r["vector"]) - 1.0) < 1e-12
    assert cos12("tfidf") < cos12("tf")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="weighting"):
        hashed_doc_vectors(df, weighting="bm25")


def test_modelfree_semantic_dedup_bridge(spark):
    """End-to-end model-free semantic dedup: documents → tfidf hashed
    vectors → LSH-blocked self-kNN → thresholded pairs → connected
    components → keep one per cluster. Paraphrase-level near-dups
    (same content words, different order/stopwords) cluster together
    WITHOUT any trained embedding; distinct docs stay."""
    from commercepulse_data_pipeline_spark.operators import graph
    from commercepulse_data_pipeline_spark.operators.text import (
        hashed_doc_vectors,
    )

    rows = [
        (1, "solar panels convert sunlight into electricity efficiently"),
        (2, "efficiently solar panels convert the sunlight into electricity"),
        (3, "recipe for sourdough bread with rye flour starter overnight"),
        (4, "overnight sourdough bread recipe using rye flour and starter"),
        (5, "quarterly revenue grew nine percent on strong cloud demand"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = hashed_doc_vectors(df, dim=32, weighting="tfidf").select(
        F.col("doc_id").alias("vec_id"), F.col("vector").alias("embedding")
    )
    knn = sim.knn_join_self(
        vecs, k=2, n_planes=4, n_tables=4, id_col="vec_id",
        vec_col="embedding", dim=32,
    )
    pairs = knn.where(
        (F.col("cosine_sim") >= 0.8) & (F.col("query_id") < F.col("neighbor_id"))
    ).select(
        F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    clusters = graph.dedup_clusters(pairs)
    got = {(r["doc_id"], r["cluster_id"]) for r in clusters.collect()}
    by_cluster = {}
    for doc, c in got:
        by_cluster.setdefault(c, set()).add(doc)
    assert {1, 2} in by_cluster.values()
    assert {3, 4} in by_cluster.values()
    assert all(5 not in members for members in by_cluster.values())


def test_broadcast_query_side_guard(spark):
    """knn_join / hard_negatives / pq_knn_join enforce their SMALL-query-
    side contract (VERDICT r10 item 1): a query set past max_queries
    raises (pointing at knn_join_self) instead of silently going
    O(corpus x queries) quadratic — the misuse the r10 SCALE.md probe
    measured at 30.9x growth. max_queries=None opts out; the pinned
    driver shapes (small query side) pass untouched."""
    import pytest

    df = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5, 0.25]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    small = df.where(F.col("vec_id") < 3)
    for op, call in (
        ("knn_join", lambda q, mq: sim.knn_join(df, q, k=2, max_queries=mq)),
        ("hard_negatives", lambda q, mq: sim.hard_negatives(
            df, q, k=2, sim_lo=0.0, sim_hi=1.1, max_queries=mq)),
    ):
        with pytest.raises(ValueError, match="knn_join_self"):
            call(df, 5)
        assert call(small, 5).count() > 0, op
        assert call(df, None).count() > 0, op  # explicit opt-out
    books = sim.pq_train(df, m=2, n_codes=4)
    codes = sim.pq_encode(df, books).select("vec_id", "pq_code")
    with pytest.raises(ValueError, match="knn_join_self"):
        sim.pq_knn_join(codes, df, books, k=2, max_queries=5)
    assert sim.pq_knn_join(codes, small, books, k=2, max_queries=5).count() > 0


def test_strip_intradoc_repeats_planted(spark):
    """strip_intradoc_repeats (r11): a window repeating WITHIN one doc
    keeps its first occurrence and splices the later ones; the same
    window appearing once each in two different docs is untouched (the
    decision is doc-local — that cross-doc case is dedup_passages'
    job); overlapping repeat coverage removes each token once."""
    import commercepulse_data_pipeline_spark.operators.text as tx

    rows = [
        # doc 1: 3-token span "a b c" repeats (positions 0 and 5)
        (1, "a b c x y a b c tail1 tail2"),
        # docs 2+3 share "p q r" once each — cross-doc only, untouched
        (2, "p q r mid2a mid2b"),
        (3, "p q r mid3a mid3b"),
        # doc 4: degenerate loop "w w w w w w" — windows 0..3 identical;
        # first survives, coverage of 1..3 removes tokens 1..5
        (4, "w w w w w w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           tx.strip_intradoc_repeats(df, window_tokens=3, min_repeats=2).collect()}
    assert out[1]["text_derepeated"] == "a b c x y tail1 tail2"
    assert out[1]["n_tokens_removed"] == 3 and out[1]["n_repeat_windows"] == 1
    for d in (2, 3):
        assert out[d]["n_tokens_removed"] == 0, d
        assert out[d]["text_derepeated"] == rows[d - 1][1]
    assert out[4]["text_derepeated"] == "w"
    assert out[4]["n_tokens_removed"] == 5 and out[4]["n_repeat_windows"] == 3


def test_simhash_pairs_between_planted(spark):
    """simhash_pairs_between (r11): a new doc that is a near-dup of an
    indexed doc pairs across the split (hamming small); an unrelated new
    doc doesn't; a re-ingested identical id never self-pairs; and the
    result equals the self-pair operator's output restricted to cross
    pairs (the pigeonhole-exactness contract)."""
    # long base doc: the one-token suffix flips few majority votes, so
    # the planted pair lands WELL inside the hamming threshold (a short
    # base would flip ~8 bits — measured — and slip past it)
    base = " ".join(f"w{i} token{i} alpha{i}" for i in range(12))
    rows_old = [(1, base), (2, "completely different indexed text about cooking recipes")]
    rows_new = [(10, base + " tonight"),            # near-dup of 1
                (11, "fresh unrelated arrival text on astronomy and physics"),
                (1, base)]                            # re-ingest of id 1
    old = spark.createDataFrame(rows_old, "doc_id long, text string")
    new = spark.createDataFrame(rows_new, "doc_id long, text string")
    index_sigs = dd.simhash_table(old, "text", "doc_id")
    out = dd.simhash_pairs_between(
        new, index_sigs, hamming_threshold=6, max_bucket=1000
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 10) in got
    assert all(11 not in p for p in got)
    assert (1, 1) not in got
    # cross-restricted self-pair equivalence on the union corpus
    both = old.union(new.where(F.col("doc_id") != 1))
    all_pairs = dd.simhash_candidate_pairs(
        both, hamming_threshold=6, max_bucket=1000
    ).collect()
    cross = {
        (r["id_a"], r["id_b"], r["hamming"]) for r in all_pairs
        if (r["id_a"] < 10) != (r["id_b"] < 10)
    }
    got_h = {(r["id_a"], r["id_b"], r["hamming"]) for r in out if r["id_b"] != 1}
    # drop pairs involving the re-ingested id 1 on the new side (absent
    # from `both`), then the sets must match exactly
    assert got_h == cross, (got_h, cross)


def test_quarantine_report_first_failing_gate(spark):
    """quarantine_report (r12): each rejected doc carries the FIRST gate
    it failed in funnel order (exact_dup -> low_quality -> wrong_lang);
    survivors never appear; NULL lang never matches wrong_lang."""
    from commercepulse_data_pipeline_spark.operators.text import quarantine_report

    good = (  # >=20 DISTINCT alpha tokens: quality_score >= 0.8
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray "
    )
    rows = [
        (1, good + "one", "en", "s1"),          # survivor
        (2, good + "two", "en", "s1"),          # canonical of the dup pair
        (3, good + "two", "en", "s1"),          # exact dup of 2 (also en)
        (4, good + "two", "de", "s2"),          # dup AND wrong lang -> exact_dup wins
        (5, "x y", "en", "s2"),                 # too short -> low quality
        (6, good + "six", "de", "s2"),          # quality ok, lang de -> wrong_lang
        (7, good + "seven", None, "s3"),        # NULL lang: no gate fires -> survivor
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r["doc_id"]: r for r in quarantine_report(df, "text").collect()}
    assert set(out) == {3, 4, 5, 6}
    assert out[3]["reason"] == "exact_dup"
    assert out[4]["reason"] == "exact_dup"  # dup gate fires before lang
    assert out[5]["reason"] == "low_quality"
    assert out[6]["reason"] == "wrong_lang"
    assert out[6]["source"] == "s2" and out[6]["n_tokens"] > 20


def test_score_pairs_cosine_and_missing_vectors(spark):
    """score_pairs (r12): pair list gains the exact pairwise cosine; a
    pair with a missing or zero-norm vector scores NULL and is KEPT; the
    pair list's own columns pass through unchanged."""
    from commercepulse_data_pipeline_spark.operators.similarity import score_pairs

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),
            (3, [0.0, 1.0]),
            (4, [0.0, 0.0]),  # zero norm
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = spark.createDataFrame(
        [(1, 2, "lex"), (1, 3, "lex"), (1, 4, "lex"), (1, 99, "lex")],
        "id_a long, id_b long, origin string",
    )
    got = {(r["id_a"], r["id_b"]): r for r in score_pairs(pairs, vecs).collect()}
    assert len(got) == 4 and all(r["origin"] == "lex" for r in got.values())
    assert got[(1, 2)]["cosine_sim"] == 1.0
    assert got[(1, 3)]["cosine_sim"] == 0.0
    assert got[(1, 4)]["cosine_sim"] is None  # zero norm
    assert got[(1, 99)]["cosine_sim"] is None  # missing vector
    # reserved output name: re-scoring a list that already carries a
    # blocker cosine raises instead of silently overwriting it
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cosine_sim"):
        score_pairs(score_pairs(pairs, vecs), vecs)


def test_margin_knn_join_suppresses_hub(spark):
    """margin_knn_join (r12): a hub target closest to EVERY source by
    raw cosine loses to the genuinely-aligned target under the ratio
    margin (Artetxe & Schwenk 2019) — the exact failure mode raw-cosine
    mining is known for; threshold filtering keeps only confident
    pairs."""
    from commercepulse_data_pipeline_spark.operators.similarity import (
        knn_join,
        margin_knn_join,
    )

    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    # hub: cos 0.7 to BOTH sources; ta/tb: cos 0.68 to exactly one
    tgt = spark.createDataFrame(
        [
            (101, [0.7, 0.7, 0.140]),
            (103, [0.68, 0.0, 0.733]),
            (105, [0.0, 0.68, 0.733]),
        ],
        "vec_id long, embedding array<float>",
    )
    # raw cosine picks the hub for every source...
    raw = {r.query_id: r.neighbor_id
           for r in knn_join(tgt, src, k=1, exclude_self=False).collect()}
    assert raw == {0: 101, 2: 101}
    # ...the margin picks each source's true counterpart
    out = margin_knn_join(src, tgt, k=2)
    top = {r.src_id: r for r in out.where(F.col("margin_rank") == 1).collect()}
    assert top[0]["tgt_id"] == 103 and top[2]["tgt_id"] == 105
    assert top[0]["margin"] > 1.2  # well above the mining threshold
    hub_rows = {(r.src_id, r.tgt_id): r.margin for r in out.collect()}
    assert hub_rows[(0, 101)] < hub_rows[(0, 103)]
    # a 1.2 mining threshold on the margins drops the hub pairs entirely
    mined = out.where(F.col("margin") >= 1.2)
    assert {(r.src_id, r.tgt_id) for r in mined.collect()} == {(0, 103), (2, 105)}


def test_pair_threshold_sweep_counts_and_guards(spark):
    """pair_threshold_sweep (r13): one aggregation pass -> one row per
    tau with candidate/scored/confirmed counts; NULL-scored pairs count
    as candidates but can never confirm; guards reject empty/duplicate
    threshold grids."""
    import pytest

    from commercepulse_data_pipeline_spark.operators.similarity import (
        pair_threshold_sweep,
    )

    scored = spark.createDataFrame(
        [
            (1, 2, 0.95),
            (1, 3, 0.90),
            (2, 3, 0.82),
            (4, 5, 0.10),
            (6, 7, None),  # no vector evidence
        ],
        "id_a long, id_b long, cosine_sim double",
    )
    got = {
        r["tau"]: r
        for r in pair_threshold_sweep(scored, (0.80, 0.90, 0.95)).collect()
    }
    assert set(got) == {0.80, 0.90, 0.95}
    for r in got.values():
        assert r["n_pairs"] == 5 and r["n_scored"] == 4
    assert got[0.80]["n_confirmed"] == 3
    assert got[0.90]["n_confirmed"] == 2
    assert got[0.95]["n_confirmed"] == 1
    assert got[0.95]["confirm_rate"] == 0.25

    # a tau no pair reaches still gets a row, with zero confirmed
    z = pair_threshold_sweep(scored, (0.99,)).head()
    assert z["n_confirmed"] == 0 and z["confirm_rate"] == 0.0

    # empty pair list: counts zero, rate NULL (nothing scored)
    empty = spark.createDataFrame([], "id_a long, id_b long, cosine_sim double")
    e = pair_threshold_sweep(empty, (0.9,)).head()
    assert e["n_pairs"] == 0 and e["n_confirmed"] == 0
    assert e["confirm_rate"] is None

    with pytest.raises(ValueError, match="at least one"):
        pair_threshold_sweep(scored, ())
    with pytest.raises(ValueError, match="duplicate"):
        pair_threshold_sweep(scored, (0.9, 0.9))


def test_pair_group_matrix_cells(spark):
    """pair_group_matrix (r13): pairs classify into unordered source
    cells; diagonal cells flag within=1; shares sum to 1 over classified
    pairs; pairs missing group evidence drop."""
    from commercepulse_data_pipeline_spark.operators.dedup import pair_group_matrix

    corpus = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 1), (2, 4), (5, 3), (1, 99)],  # (1,99): 99 not in corpus
        "id_a long, id_b long",
    )
    rows = {(r["group_a"], r["group_b"]): r
            for r in pair_group_matrix(pairs, corpus).collect()}
    assert rows[("a", "a")]["n_pairs"] == 1 and rows[("a", "a")]["within"] == 1
    assert rows[("a", "b")]["n_pairs"] == 2 and rows[("a", "b")]["within"] == 0
    assert rows[("b", "c")]["n_pairs"] == 1
    assert abs(sum(r["share"] for r in rows.values()) - 1.0) < 1e-9
    assert rows[("a", "b")]["share"] == 0.5


def test_cdc_chunks_shift_robust_and_exact(spark):
    """cdc_chunks (r13): boundaries depend only on local content, so a
    prefix insertion re-synchronizes and downstream chunk hashes are
    IDENTICAL (the property fixed windows lack); chunks partition each
    doc exactly; a pure-Python replica agrees on every boundary."""
    import hashlib

    import pytest

    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep dark woods tonight while stars shine above")
    edited = "inserted new prefix " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, "one"), (4, "   ")],
        "doc_id long, text string",
    )
    out = tx.cdc_chunks(df, gram=2, divisor=4)
    rows = sorted(
        [(r.doc_id, r.chunk_idx, r.start_pos, r.n_tokens, r.chunk_md5)
         for r in out.collect()]
    )

    # pure-Python replica of the boundary rule
    def py_chunks(text, gram=2, divisor=4, salt="cdc-v1:"):
        toks = [t for t in text.lower().split() if t]
        bnd = []
        for i in range(1, len(toks) + 1):
            g = " ".join(toks[max(1, i - gram + 1) - 1:i])
            h = int(hashlib.md5((salt + g).encode()).hexdigest()[:8], 16)
            bnd.append(1 if h % divisor == 0 else 0)
        chunks, cur = [], []
        for i, t in enumerate(toks):
            cur.append((i, t))
            if bnd[i]:
                chunks.append(cur)
                cur = []
        if cur:
            chunks.append(cur)
        return [
            (ci, c[0][0], len(c),
             hashlib.md5(" ".join(t for _, t in c).encode()).hexdigest())
            for ci, c in enumerate(chunks)
        ]

    for doc_id, text in [(1, base), (2, edited), (3, "one")]:
        want = [(doc_id, ci, sp, n, h) for ci, sp, n, h in py_chunks(text)]
        got = [r for r in rows if r[0] == doc_id]
        assert got == sorted(want), doc_id
    assert not [r for r in rows if r[0] == 4]  # zero-token doc: no chunks

    # shift robustness: a base boundary at 1-based position i is
    # preserved in the edited doc iff its whole gram window sits in the
    # shared suffix (i >= gram) — so every base chunk that STARTS at a
    # preserved boundary (start_pos >= gram) reappears hash-identical
    h2 = {r[4] for r in rows if r[0] == 2}
    surv = [r[4] for r in rows if r[0] == 1 and r[2] >= 2]
    assert set(surv) <= h2 and len(surv) >= 3

    # chunks partition the doc: token counts sum to the doc's token count
    n1 = sum(r[3] for r in rows if r[0] == 1)
    assert n1 == len(base.split())

    with pytest.raises(ValueError, match="gram and divisor"):
        tx.cdc_chunks(df, gram=0)


def test_blocker_recall_report_counts(spark):
    """blocker_recall_report (r13): exact-Jaccard truth vs MinHash
    blocker on a deterministic sample — counts and the recall ratio are
    consistent, identical docs always recall at 1.0 (full-signature
    collision hits every band), and an all-unique corpus reports NULL
    recall with zero true pairs."""
    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen")
    rows = [(i, base) for i in range(8)] + [
        (100 + i,
         f"unique{i}a unique{i}b unique{i}c unique{i}d unique{i}e "
         f"unique{i}f unique{i}g unique{i}h")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = dd.blocker_recall_report(df, sample_rate=1.0, tau=0.5).head()
    n = r["n_sampled_docs"]
    assert n == 16
    assert r["n_true_pairs"] == 8 * 7 // 2  # the identical-doc clique
    assert r["n_found"] == r["n_true_pairs"] and r["recall"] == 1.0
    assert r["n_blocked_pairs"] >= r["n_found"]

    uniq = spark.createDataFrame(rows[8:], "doc_id long, text string")
    r2 = dd.blocker_recall_report(uniq, sample_rate=1.0, tau=0.5).head()
    assert r2["n_true_pairs"] == 0 and r2["recall"] is None

    # sampling is deterministic: same salt -> same report twice
    a = dd.blocker_recall_report(df, sample_rate=0.6, salt="x:").head()
    b = dd.blocker_recall_report(df, sample_rate=0.6, salt="x:").head()
    assert a == b


def test_code_detect_signals(spark):
    """code_detect (r13): code-punctuation density, indentation and
    terminator lines vote is_code; prose and NULL text stay false; the
    min_signals knob tightens the vote."""
    code = ("def f(x):\n    y = x + 1;\n    return {\"k\": [y]};\n"
            "    z = [i for i in range(3)];")
    prose = ("The quick brown fox jumps over the lazy dog. "
             "It was a bright cold day in April and the clocks chimed.")
    indented_poem = "  roses are red\n  violets are blue\n  no code here\n  just verse"
    df = spark.createDataFrame(
        [(1, code), (2, prose), (3, None), (4, indented_poem)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in tx.code_detect(df).collect()}
    assert got[1]["is_code"] is True and got[1]["symbol_ratio"] > 0.06
    assert got[2]["is_code"] is False and got[2]["indent_frac"] == 0.0
    assert got[3]["is_code"] is False and got[3]["symbol_ratio"] is None
    # indentation alone (one signal) must not flag poetry as code
    assert got[4]["is_code"] is False and got[4]["indent_frac"] == 1.0


def test_winnow_fingerprints_model_and_guarantee(spark):
    """winnow_fingerprints (r13): equals a pure-Python winnowing walk
    (min hash per window, rightmost tie) on every doc; the w+k-1
    guarantee holds on a planted shared run; short docs take the
    whole-doc window; sub-k docs emit nothing."""
    import hashlib

    import pytest

    k, w = 3, 4

    def model(text, salt="winnow-v1:"):
        toks = [t for t in text.lower().split() if t]
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [int(hashlib.md5((salt + g).encode()).hexdigest()[:8], 16)
              for g in grams]
        if not hs:
            return set()
        wl = min(w, len(hs))
        out = set()
        for i in range(max(len(hs) - w + 1, 1)):
            win = hs[i:i + wl]
            m = min(win)
            p = i + max(j for j, h in enumerate(win) if h == m)
            out.add((p + 1, m))  # 1-based gram index
        return out

    docs = [
        (1, "a b c d e f g h i j k l m n o"),
        (2, "xx yy zz a b c d e f g h new tail words"),
        (3, "p q r"),
        (4, "p q"),
        (5, "w1 w2 w3 w4 w5 w6"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in tx.winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for doc_id, text in docs:
        assert got.get(doc_id, set()) == model(text), doc_id

    # guarantee: docs 1 and 2 share a 9-token run >= w+k-1=6 -> at least
    # one shared fingerprint HASH (positions shift; hashes survive)
    f1 = {h for _, h in got[1]}
    f2 = {h for _, h in got[2]}
    assert f1 & f2

    with pytest.raises(ValueError, match="k and w"):
        tx.winnow_fingerprints(df, k=0)


def test_winnow_match_pairs_evidence_and_caps(spark):
    """winnow_match_pairs (r13): a long shared run yields a pair with
    multiple shared fingerprints; unrelated docs never pair; one vote
    per (doc, fp) even when a fingerprint is selected at several
    positions; the posting cap silences corpus-common fingerprints."""
    base = "a b c d e f g h i j k l m n o p q r s t"
    df = spark.createDataFrame(
        [(1, base), (2, "xx yy " + base + " zz"),
         (3, "totally different words here none shared at all today friend")],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r.n_shared
           for r in tx.winnow_match_pairs(df, min_shared=1).collect()}
    assert set(got) == {(1, 2)} and got[(1, 2)] >= 2

    # a fingerprint shared by EVERY doc exceeds max_posting=2 -> dropped;
    # the remaining evidence still pairs only the true match
    boiler = "same boiler plate phrase everywhere "
    df2 = spark.createDataFrame(
        [(i, boiler + t) for i, t in
         [(1, base), (2, base), (3, "uvw xyz unrelated content entirely"),
          (4, "other words again nothing common")]],
        "doc_id long, text string",
    )
    capped = {(r.id_a, r.id_b)
              for r in tx.winnow_match_pairs(df2, min_shared=2,
                                             max_posting=2).collect()}
    assert capped == {(1, 2)}


def test_bucket_occupancy_reports_dropped_family(spark):
    """r15 guard: a signature family past max_bucket vanishes WHOLESALE
    from sig_hamming_pairs (capped_posting_lists contract) — the
    occupancy report must count exactly what the pair stage dropped."""
    # 6 identical sigs (the degenerate family; blocks 1-3 are zero, so
    # the other sigs below keep every 16-bit block NONZERO and distinct
    # to avoid cross-colliding with it), one near-dup pair within
    # radius, one singleton far away
    fam = [(f"fam-{i}", 7) for i in range(6)]
    near = [("a", 0x1111222233334444), ("b", 0x1111222233334444 ^ 1)]
    lone = [("z", 0x5555666677778888)]
    sigs = spark.createDataFrame(fam + near + lone, "doc_id string, sig long")

    pairs = {
        (r.id_a, r.id_b)
        for r in dd.sig_hamming_pairs(
            sigs, id_col="doc_id", hamming_threshold=3, max_bucket=5
        ).collect()
    }
    # the family (15 true pairs) is silently gone; only (a, b) survives
    assert pairs == {("a", "b")}

    occ = {
        r.status: r
        for r in dd.sig_block_occupancy(
            sigs, id_col="doc_id", hamming_threshold=3, max_bucket=5
        ).collect()
    }
    # family sig=7: all 4 pigeonhole blocks collide -> 4 dropped buckets
    # of 6 postings each
    assert occ["dropped"].n_buckets == 4
    assert occ["dropped"].n_items == 24
    assert occ["dropped"].max_bucket_n == 6
    # (a, b) share 3 of 4 blocks (they differ in bit 0 -> block 0
    # differs); z collides with nothing
    assert occ["pairable"].n_buckets == 3
    assert occ["pairable"].n_items == 6
    # singletons: a/b's block 0 (2 buckets) + z's 4 + near pair's
    # non-colliding... count positively instead:
    assert occ["singleton"].max_bucket_n == 1

    # raising the cap recovers the family's pairs — the report's
    # "raise max_bucket" advice is actionable
    all_pairs = dd.sig_hamming_pairs(
        sigs, id_col="doc_id", hamming_threshold=3, max_bucket=10
    ).count()
    assert all_pairs == 15 + 1


def test_drop_degenerate_sigs_families(spark):
    """r15: all-zero / all-one signatures (solid-color images, silence)
    are the media tier's stop-shingles — dropped before pairing, NULLs
    included; everything else passes through."""
    sigs = spark.createDataFrame(
        [("solid", 0), ("white", -1), ("bad", None), ("ok", 42),
         ("neg", -42)],
        "media_id string, ahash long",
    )
    kept = {r.media_id for r in dd.drop_degenerate_sigs(
        sigs, sig_col="ahash").collect()}
    assert kept == {"ok", "neg"}


def test_nb_classifier_train_score_and_artifact(spark, tmp_path):
    """r15 supervised quality classifier: the hashed-feature NB
    separates planted vocabularies on held-out docs, scores zero-feature
    docs with the prior alone, replays deterministically under
    repartitioning, and round-trips through the model artifact."""
    from commercepulse_data_pipeline_spark.operators import classifier as clf

    good = [(f"g{i}", "thoughtful essay about science history and culture", 1)
            for i in range(6)]
    spam = [(f"s{i}", "click here cheap pills casino bonus win money", 0)
            for i in range(6)]
    labeled = spark.createDataFrame(
        good + spam, "doc_id string, text string, label int"
    )
    model = clf.nb_train(labeled, n_buckets=128)
    # dense model: every bucket + the bias row
    assert model.count() == 129

    test = spark.createDataFrame(
        [("t-good", "a thoughtful essay on culture and science"),
         ("t-spam", "win cheap casino money click bonus"),
         ("t-empty", "")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in clf.nb_score(test, model, n_buckets=128).collect()}
    assert out["t-good"].predicted == 1 and out["t-good"].nb_logodds > 0
    assert out["t-spam"].predicted == 0 and out["t-spam"].nb_logodds < 0
    # zero features -> prior only (balanced classes -> log-odds 0, not kept)
    assert out["t-empty"].n_feats == 0
    assert out["t-empty"].nb_logodds == 0.0 and out["t-empty"].predicted == 0

    again = {
        r.doc_id: r
        for r in clf.nb_score(
            test.repartition(5), model.repartition(3), n_buckets=128
        ).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in again.items()
    }

    path = str(tmp_path / "model")
    clf.write_model(model, path, n_buckets=128, salt="nbq-v1:")
    loaded, meta = clf.read_model(spark, path)
    assert meta["n_buckets"] == 128 and meta["salt"] == "nbq-v1:"
    reloaded = {
        r.doc_id: tuple(r)
        for r in clf.nb_score(test, loaded, n_buckets=128).collect()
    }
    assert reloaded == {k: tuple(v) for k, v in out.items()}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="missing"):
        clf.read_model(spark, str(tmp_path / "nope"))


def test_html_extract_blocks_and_density(spark):
    """r15 HTML-to-text: script/style/comment subtrees vanish, block
    tags segment, entities decode, and the link-density filter drops
    nav/footer/link-list boilerplate while prose survives."""
    html = (
        "<html><head><title>Nine token title words pad pad pad pad pad"
        "</title><style>p{a:1}</style><script>var x = 1 < 2;</script>"
        "</head><body><!-- c -->"
        '<div class="nav"><a href="/">home</a> <a href="/a">about</a></div>'
        "<h1>A real heading with words</h1>"
        "<p>First paragraph long enough to keep &amp; decode entities "
        "like 1 &lt; 2 here.</p><p>Too short.</p>"
        '<ul><li><a href="/x">link one</a></li><li><a href="/y">link two'
        "</a></li></ul>"
        "<p>Mixed block where <a href=\"/z\">a small link</a> sits inside "
        "much longer surrounding prose that clearly dominates.</p>"
        '<div class="footer"><a href="/c">contact us now</a></div>'
        "</body></html>"
    )
    df = spark.createDataFrame(
        [(1, html), (2, None), (3, "bare text with no markup anywhere")],
        "doc_id long, html string",
    )
    out = {r.doc_id: r for r in tx.html_extract(df).collect()}
    t1 = out[1].text.split("\n")
    assert t1[0].startswith("Nine token title")
    assert "A real heading with words" in t1
    assert "First paragraph long enough to keep & decode entities like 1 < 2 here." in t1
    # boilerplate out: nav, pure-link list items, footer, short block
    joined = out[1].text
    assert "home" not in joined and "contact" not in joined
    assert "link one" not in joined and "Too short" not in joined
    # inline link inside dominating prose survives, tag stripped
    assert "a small link sits inside" in joined.replace("where a", "where a")
    assert out[1].n_kept_blocks == 4 and out[1].n_blocks > 4
    assert out[2].text == "" and out[2].n_blocks == 0
    assert out[3].text == "bare text with no markup anywhere"


def test_html_extract_feeds_the_funnel(spark):
    """r15 funnel composition: two crawls of the SAME article under
    different site chrome extract to identical text, so exact_dedup —
    which would never match the raw HTML — collapses them; the distinct
    article survives."""
    art = "The identical article body with plenty of tokens to pass gates."
    page_a = f'<html><body><div class="nav"><a href="/">siteA home</a></div><p>{art}</p></body></html>'
    page_b = f'<html><body><div class="menu"><a href="/b">siteB menu</a></div><p>{art}</p><div class="footer"><a href="/l">legal page link</a></div></body></html>'
    page_c = "<html><body><p>A different article entirely, with its own words and enough length.</p></body></html>"
    pages = spark.createDataFrame(
        [(1, page_a), (2, page_b), (3, page_c)], "doc_id long, html string"
    )
    extracted = tx.html_extract(pages)
    assert dd.exact_dedup(
        spark.createDataFrame(
            [(r.doc_id, r.html) for r in pages.collect()],
            "doc_id long, text string",
        ),
        "text", "doc_id",
    ).count() == 3  # raw HTML never matches
    deduped = dd.exact_dedup(extracted.select("doc_id", "text"), "text", "doc_id")
    kept = {r.doc_id for r in deduped.collect()}
    assert kept == {1, 3}  # lowest-id canonical of the article pair + distinct


def test_nb_multiclass_routes_languages(spark):
    """r15 multiclass NB (domain/language routing): per-class models
    over the shared hashed feature space separate three planted
    languages on held-out docs; the zero-feature doc gets the prior
    argmax with the deterministic greatest-label tie-break; scores
    replay under repartitioning."""
    from commercepulse_data_pipeline_spark.operators import classifier as clf

    rows = (
        [(f"e{i}", "the quick brown fox and the lazy dog walk", "en")
         for i in range(6)]
        + [(f"s{i}", "el zorro marron rapido y el perro perezoso", "es")
           for i in range(6)]
        + [(f"f{i}", "le renard brun rapide et le chien paresseux", "fr")
           for i in range(6)]
    )
    labeled = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    model = clf.nb_train_multiclass(labeled, label_col="lang", n_buckets=128)
    assert model.count() == 3 * 128 + 3  # dense grid + one prior per class

    test = spark.createDataFrame(
        [("t1", "the quick dog and the fox"),
         ("t2", "el perro y el zorro rapido"),
         ("t3", "le chien et le renard brun"),
         ("t4", "")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in
           clf.nb_score_multiclass(test, model, n_buckets=128).collect()}
    assert out["t1"].predicted_label == "en"
    assert out["t2"].predicted_label == "es"
    assert out["t3"].predicted_label == "fr"
    # equal priors, no features -> tie breaks to the GREATEST label
    assert out["t4"].predicted_label == "fr" and out["t4"].n_feats == 0

    again = {r.doc_id: tuple(r) for r in clf.nb_score_multiclass(
        test.repartition(5), model.repartition(3), n_buckets=128).collect()}
    assert again == {k: tuple(v) for k, v in out.items()}


# --------------------------------------------------------------------------
# BM25 retrieval (operators/retrieval.py)
# --------------------------------------------------------------------------

def _bm25_model(docs, terms, k1=1.2, b=0.75):
    """Pure-Python BM25 twin mirroring bm25_score's exact arithmetic:
    log2 idf quantized to a 1e-6 grid, left-to-right term sum."""
    toked = {i: t.lower().split() for i, t in docs}
    n = len(toked)
    avgdl = sum(len(v) for v in toked.values()) / n
    dfs = {t: sum(1 for v in toked.values() if t in v) for t in terms}
    out = {}
    for i, toks in toked.items():
        score, match = 0.0, 0
        for t in terms:
            tf = toks.count(t)
            idf = round(math.log2(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)), 6)
            score = score + idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * (len(toks) / avgdl))
            )
            match += 1 if tf > 0 else 0
        if match:
            out[i] = (match, len(toks), round(score, 6))
    return out


def test_bm25_score_matches_model_and_ranks_rare_term_first(spark):
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    docs = [
        (1, "spark query engine spark spark"),
        (2, "pasta recipe with basil and spark"),
        (3, "unrelated prose about gardens"),
        (4, "basil basil basil pesto"),
        (5, "query planner beats hand tuning"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    terms = ["spark", "basil"]
    got = {
        r.doc_id: (r.n_match, r.dl, r.score)
        for r in ret.bm25_score(df, terms).collect()
    }
    want = _bm25_model(docs, terms)
    assert got == want
    # doc 3 matches nothing -> dropped
    assert 3 not in got
    top = ret.bm25_topk(df, terms, k=3).collect()
    assert [r.rank for r in top] == [1, 2, 3]
    # rank order is the model's (score desc, doc_id asc)
    model_order = sorted(want, key=lambda i: (-want[i][2], i))[:3]
    assert [r.doc_id for r in top] == model_order


def test_bm25_validates_terms_and_k(spark):
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        ret.bm25_score(df, [])
    with pytest.raises(ValueError):
        ret.bm25_score(df, ["a", "A"])  # dup after lowering
    with pytest.raises(ValueError):
        ret.bm25_score(df, ["two words"])
    with pytest.raises(ValueError):
        ret.bm25_topk(df, ["a"], k=0)


def test_bm25_empty_and_zero_length_docs(spark):
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    df = spark.createDataFrame(
        [(1, "hit hit"), (2, ""), (3, "   "), (4, "miss")],
        ["doc_id", "text"],
    )
    rows = ret.bm25_score(df, ["hit"]).collect()
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].n_match == 1 and rows[0].dl == 2


def test_bm25_extra_cols_passthrough(spark):
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    df = spark.createDataFrame(
        [(1, "x", "web"), (2, "x y", "book")], ["doc_id", "text", "source"]
    )
    rows = ret.bm25_topk(df, ["y"], k=5, extra_cols=("source",)).collect()
    assert [(r.doc_id, r.source) for r in rows] == [(2, "book")]


def test_text_index_build_query_and_append(spark, tmp_path):
    """Inverted-index BM25 serving: the indexed top-k returns the same
    docs/ranks/n_match/dl as the scan scorer (scores agree to 1e-6 —
    exact-decimal group sum vs fixed-order double sum), zero-token docs
    count in the stats rows, append rolls stats forward and finds
    docs from both batches, and a param-mismatched append refuses."""
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    docs = [
        (1, "spark query engine spark spark"),
        (2, "pasta recipe with basil and spark"),
        (3, ""),  # zero tokens: no postings, but counts in n_docs
        (4, "basil basil basil pesto"),
        (5, "query planner beats hand tuning"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    path = str(tmp_path / "tix")
    ret.write_text_index(df, path, n_buckets=8)
    import os

    assert not os.path.exists(f"{path}/meta")  # the stats rows replace it
    meta = ret._index_stats(spark, path)
    assert meta == {
        "n_docs": 5,
        "sum_dl": sum(len(t.split()) for _, t in docs),
        "n_buckets": 8,
        "id_col": "doc_id",
        "positions": False,
    }

    # defaultFS gating (ADVICE r15): an explicit file: URI reads the stats
    # through the driver filesystem WITHOUT touching the Spark session at
    # all, while a bare path under a NON-local default filesystem must
    # fall through to the cluster reader (a same-named local dir must not
    # shadow the cluster copy).
    class _NoSpark:
        def __getattr__(self, name):  # noqa: D105
            raise AssertionError(f"touched Spark ({name}) for a file: path")

    for uri in (f"file:{path}", f"file://{path}", f"file://localhost{path}"):
        assert ret._index_stats(_NoSpark(), uri) == meta

    class _Sentinel(Exception):
        pass

    class _HConf:
        def get(self, key, default=None):
            return "hdfs://namenode:8020"

    class _JSC:
        def hadoopConfiguration(self):
            return _HConf()

    class _ClusterSpark:
        _jsc = _JSC()

        @property
        def read(self):
            raise _Sentinel()

    import pytest as _pytest

    with _pytest.raises(_Sentinel):
        ret._index_stats(_ClusterSpark(), path)

    terms = ["spark", "basil"]
    scan = ret.bm25_topk(df, terms, k=5).collect()
    idx = ret.bm25_topk_indexed(spark, path, terms, k=5).collect()
    assert [(r.rank, r.doc_id, r.n_match, r.dl) for r in idx] == [
        (r.rank, r.doc_id, r.n_match, r.dl) for r in scan
    ]
    for a, b in zip(idx, scan):
        assert abs(a.score - b.score) < 1e-6

    # append a second batch: stats roll forward, new docs retrievable
    batch2 = spark.createDataFrame([(6, "spark spark spark")], ["doc_id", "text"])
    ret.write_text_index(batch2, path, n_buckets=8, mode="append")
    meta2 = ret._index_stats(spark, path)
    assert meta2["n_docs"] == 6
    assert meta2["sum_dl"] == meta["sum_dl"] + 3
    hits = {r.doc_id for r in ret.bm25_topk_indexed(spark, path, ["spark"], k=10).collect()}
    assert hits == {1, 2, 6}

    # foreign-params append must refuse BEFORE corrupting the layout
    with pytest.raises(ValueError, match="append with params"):
        ret.write_text_index(batch2, path, n_buckets=16, mode="append")


def test_text_index_on_a_non_local_root_reads_through_spark(spark, tmp_path, monkeypatch):
    """A root the local rule does not claim is never listed with ``os``:
    append asks Hadoop ``FileSystem.exists`` whether the index exists,
    and the stats and postings come from plain Spark reads. (The root is
    a local directory that ``readers.local_path`` is patched to refuse.)"""
    from commercepulse_data_pipeline_spark.operators import retrieval as ret
    from commercepulse_data_pipeline_spark.sources import readers

    monkeypatch.setattr(readers, "local_path", lambda _spark, _root: None)
    path = str(tmp_path / "tix")
    batch1 = spark.createDataFrame([(1, "spark basil"), (2, "pesto")], ["doc_id", "text"])
    ret.write_text_index(batch1, path, n_buckets=8, mode="append")  # no index yet
    batch2 = spark.createDataFrame([(3, "spark spark")], ["doc_id", "text"])
    ret.write_text_index(batch2, path, n_buckets=8, mode="append")
    assert ret._index_stats(spark, path)["n_docs"] == 3
    hits = ret.bm25_topk_indexed(spark, path, ["spark"], k=5).collect()
    assert [r.doc_id for r in hits] == [3, 1]
    with pytest.raises(ValueError, match="append with params"):
        ret.write_text_index(batch2, path, n_buckets=16, mode="append")
    with pytest.raises(ValueError, match="local-filesystem-only"):
        readers.fold_consistent_read(spark, path)


def test_indexed_bm25_leaves_no_checkpoint_files_under_reliable_pins(spark, tmp_path):
    """The indexed BM25 serving path pins its probed postings locally
    whatever the pin policy: under a reliable ``set_pin_policy`` one query
    returns the default policy's rows and writes no checkpoint file (a
    reliable pin there wrote files per query that nothing deletes)."""
    import os

    from commercepulse_data_pipeline_spark.functions.pins import set_pin_policy
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    docs = [(1, "spark query engine spark"), (2, "basil spark pesto"), (3, "query planner")]
    path = str(tmp_path / "tix")
    ret.write_text_index(spark.createDataFrame(docs, ["doc_id", "text"]), path, n_buckets=8)
    base = ret.bm25_topk_indexed(spark, path, ["spark", "query"], k=5).collect()
    ckpt = str(tmp_path / "reliable_pins")
    set_pin_policy(checkpoint_dir=ckpt)
    try:
        got = ret.bm25_topk_indexed(spark, path, ["spark", "query"], k=5).collect()
    finally:
        set_pin_policy(checkpoint_dir=None)
    assert got == base and len(got) == 3
    assert [f for _, _, files in os.walk(ckpt) for f in files] == []


def test_phrase_topk_positional_index(spark, tmp_path):
    """Positional index + exact phrase search: occurrence counts match a
    pure-Python sliding-window model (incl. a REPEATED-term phrase and
    overlapping occurrences), docs lacking the full phrase drop, plain
    indexes refuse phrase queries, and a positions-mismatched append
    refuses."""
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    docs = [
        (1, "big data beats big data beats big data"),  # 'big data' x3
        (2, "data big data"),                            # x1
        (3, "big big data"),                             # x1 (and 'big big' x1)
        (4, "data big"),                                 # reversed: 0
        (5, "big mound of rocks"),                       # term 'data' absent
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    path = str(tmp_path / "pix")
    ret.write_text_index(df, path, n_buckets=8, positions=True)

    def model(phrase):
        out = {}
        for did, text in docs:
            toks = text.split()
            n = sum(
                1
                for s in range(len(toks) - len(phrase) + 1)
                if toks[s : s + len(phrase)] == phrase
            )
            if n:
                out[did] = (n, len(toks))
        return out

    got = {
        r.doc_id: (r.n_phrase, r.dl)
        for r in ret.phrase_topk(spark, path, ["big", "data"], k=10).collect()
    }
    assert got == model(["big", "data"])
    ranks = [r.doc_id for r in ret.phrase_topk(spark, path, ["big", "data"], k=10).collect()]
    assert ranks[0] == 1  # 3 occurrences wins; ties then by doc_id

    # repeated-term phrase reads the same map entry at both offsets
    got2 = {
        r.doc_id: (r.n_phrase, r.dl)
        for r in ret.phrase_topk(spark, path, ["big", "big"], k=10).collect()
    }
    assert got2 == model(["big", "big"])

    # three-term phrase
    got3 = {
        r.doc_id: (r.n_phrase, r.dl)
        for r in ret.phrase_topk(spark, path, ["big", "data", "beats"], k=10).collect()
    }
    assert got3 == model(["big", "data", "beats"])

    # a plain index refuses phrase search
    plain = str(tmp_path / "plain")
    ret.write_text_index(df, plain, n_buckets=8)
    with pytest.raises(ValueError, match="without positions"):
        ret.phrase_topk(spark, plain, ["big", "data"])
    # and appending plain rows into a positional index refuses
    with pytest.raises(ValueError, match="append with params"):
        ret.write_text_index(df, path, n_buckets=8, mode="append")
    with pytest.raises(ValueError):
        ret.phrase_topk(spark, path, ["big"])  # 1-term phrase
