"""Tests for the extension-tier graph clustering and deterministic
sampling operators (operators/graph.py, operators/sampling.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)
from commercepulse_data_pipeline_spark.operators.sampling import (
    BUCKET_SPACE,
    PRIORITY_SCALE,
    deterministic_sample,
    hash_bucket,
    stratified_sample,
    threshold_for,
    weighted_priority,
    weighted_sample_per_group,
)


def test_connected_components_basic(spark):
    """Two chains + an isolated pair: labels converge to the min id."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], ["id_a", "id_b"]
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


@pytest.mark.slow
def test_connected_components_long_chain_converges(spark):
    """A path needs ~diameter rounds under hash-to-min: the longest path
    the fixed round budget covers converges to an exact fixpoint."""
    from commercepulse_data_pipeline_spark.operators.graph import MAX_ROUNDS

    n = MAX_ROUNDS
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {0} and len(got) == n + 1


@pytest.mark.slow
def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """set_pin_policy(dir) switches every per-round lineage cut from
    localCheckpoint (executor-local, lost on executor failure) to a
    reliable checkpoint that survives executor loss. Same rows on a
    20-node path, and checkpoint data actually lands under the dir."""
    import os

    from commercepulse_data_pipeline_spark.functions.pins import set_pin_policy

    ckpt = str(tmp_path / "cc_ckpt")
    edges = spark.createDataFrame([(i, i + 1) for i in range(20)], ["id_a", "id_b"])
    local = sorted(map(tuple, connected_components(edges).collect()))
    set_pin_policy(ckpt)
    try:
        reliable = sorted(map(tuple, connected_components(edges).collect()))
    finally:
        set_pin_policy(None)
    assert reliable == local
    assert {c for _, c in local} == {0} and len(local) == 21
    walked = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert walked, "no checkpoint files written to the reliable dir"


def test_connected_components_raises_past_max_iter(spark, monkeypatch):
    """A path longer than the round budget raises instead of returning
    partial labels (budget shrunk to 2 rounds to keep the test cheap)."""
    from commercepulse_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "MAX_ROUNDS", 2)
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)


def test_dedup_clusters_sizes(spark):
    pairs = spark.createDataFrame([(5, 9), (9, 7), (100, 101)], ["id_a", "id_b"])
    rows = {r.doc_id: r for r in dedup_clusters(pairs).collect()}
    assert rows[5].cluster_id == rows[7].cluster_id == rows[9].cluster_id == 5
    assert rows[5].cluster_size == 3
    assert rows[100].cluster_id == rows[101].cluster_id == 100
    assert rows[100].cluster_size == 2


def test_hash_bucket_uniform_and_stable(spark):
    """Buckets are stable across partitionings and roughly uniform."""
    df = spark.range(0, 4000).select(F.col("id"))
    b1 = df.select("id", hash_bucket(F.col("id")).alias("b"))
    b2 = df.repartition(7).select("id", hash_bucket(F.col("id")).alias("b"))
    assert {(r.id, r.b) for r in b1.collect()} == {(r.id, r.b) for r in b2.collect()}
    mean = b1.agg(F.avg("b")).head()[0]
    assert abs(mean / BUCKET_SPACE - 0.5) < 0.05  # uniform-ish center


def test_deterministic_sample_rate_and_idempotence(spark):
    df = spark.range(0, 10000).select(F.col("id"))
    s = deterministic_sample(df, "id", 0.3)
    n = s.count()
    assert abs(n / 10000 - 0.3) < 0.03
    # same sample on rerun AND on a superset (incremental property)
    again = {r.id for r in deterministic_sample(df, "id", 0.3).collect()}
    sup = spark.range(0, 20000).select(F.col("id"))
    sup_ids = {r.id for r in deterministic_sample(sup, "id", 0.3).collect()}
    assert again == {r.id for r in s.collect()}
    assert again <= sup_ids
    # independent samples under a different salt
    salted = {r.id for r in deterministic_sample(df, "id", 0.3, salt="x").collect()}
    assert salted != again


def test_stratified_sample_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else ("de" if i % 4 == 1 else "fr")) for i in range(8000)]
    df = spark.createDataFrame(rows, ["id", "lang"])
    out = stratified_sample(df, "lang", {"en": 0.1, "de": 0.8}, "id", default_rate=0.5)
    frac = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert abs(frac["en"] / 4000 - 0.1) < 0.03
    assert abs(frac["de"] / 2000 - 0.8) < 0.05
    assert abs(frac["fr"] / 2000 - 0.5) < 0.05  # default rate


def test_threshold_for_exact_int():
    assert threshold_for(0.5) == 1 << 31
    assert threshold_for(1.0) == BUCKET_SPACE
    assert threshold_for(0.0) == 0


def _py_priority(key, weight, salt=""):
    """Independent pure-Python replica of weighted_priority (hashlib md5,
    exact integer floor division)."""
    import hashlib

    b = int(hashlib.md5((salt + str(key)).encode()).hexdigest()[:8], 16)
    return (b * PRIORITY_SCALE) // max(int(weight), 1)


def test_weighted_priority_integer_exact(spark):
    """The Spark priority equals the pure-Python int arithmetic exactly —
    including weights that make the quotient land on exact boundaries
    (w=1 and w dividing the scale), the cases where a float floor(a/b)
    can be off by one."""
    rows = [(f"k{i}", w) for i in range(500) for w in (1, 3, 7, 1000, PRIORITY_SCALE)]
    df = spark.createDataFrame(rows, ["k", "w"])
    got = {
        (r.k, r.w): r.p
        for r in df.select(
            "k", "w", weighted_priority(F.col("k"), F.col("w")).alias("p")
        ).collect()
    }
    for (k, w), p in got.items():
        assert p == _py_priority(k, w), (k, w)
    # monotone: heavier weight never increases the priority of the same key
    for i in range(500):
        ps = [got[(f"k{i}", w)] for w in (1, 3, 7, 1000)]
        assert ps == sorted(ps, reverse=True)


def test_weighted_sample_per_group_exact_k_and_bias(spark):
    """Exactly k rows per group; heavy rows win slots far beyond their
    population share (weights 50:1 at a 10% population share → expect a
    strong majority of winners heavy)."""
    rows = [
        (f"d{g}_{i}", f"g{g}", 50 if i % 10 == 0 else 1)
        for g in range(4)
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "w"])
    out = weighted_sample_per_group(df, "grp", "doc_id", "w", k=20).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r)
    assert set(by_grp) == {f"g{g}" for g in range(4)}
    for g, picked in by_grp.items():
        assert len(picked) == 20, g
        assert sorted(r.wrank for r in picked) == list(range(1, 21))
        heavy = sum(1 for r in picked if r.w == 50)
        assert heavy >= 14, (g, heavy)  # ~83% expected under u/w priority
    # deterministic: identical winner set on rerun
    again = {(r.grp, r.doc_id) for r in
             weighted_sample_per_group(df, "grp", "doc_id", "w", k=20).collect()}
    assert again == {(r.grp, r.doc_id) for r in out}


# ---------------------------------------------------------------------------
# Sequence packing (operators/packing.py)
# ---------------------------------------------------------------------------

def test_pack_sequences_capacity_and_order(spark):
    from commercepulse_data_pipeline_spark.operators.packing import (
        pack_sequences,
        packed_windows,
    )

    rows = [(i, 100 + (i * 37) % 300) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    packed = pack_sequences(df, "doc_id", "n_tokens", capacity=512, n_shards=4)
    out = packed.collect()
    assert len(out) == 200  # every doc assigned exactly once
    # windows never exceed capacity
    wins = packed_windows(packed).collect()
    assert all(w.window_tokens <= 512 for w in wins)
    # within a shard, bin_idx is non-decreasing in doc_id (next-fit walk)
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        assert r.bin_idx >= by_shard.get(r.shard, 0)
        by_shard[r.shard] = r.bin_idx


def test_pack_sequences_partition_independent(spark):
    from commercepulse_data_pipeline_spark.operators.packing import pack_sequences

    rows = [(i, 50 + i % 400) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    a = {(r.doc_id, r.shard, r.bin_idx) for r in
         pack_sequences(df, "doc_id", "n_tokens", capacity=256, n_shards=4).collect()}
    b = {(r.doc_id, r.shard, r.bin_idx) for r in
         pack_sequences(df.repartition(13), "doc_id", "n_tokens", capacity=256, n_shards=4).collect()}
    assert a == b


def test_pack_sequences_oversize_doc_truncated_to_own_bin(spark):
    from commercepulse_data_pipeline_spark.operators.packing import pack_sequences

    df = spark.createDataFrame([(1, 10_000), (2, 100)], ["doc_id", "n_tokens"])
    out = {r.doc_id: r for r in
           pack_sequences(df, "doc_id", "n_tokens", capacity=512, n_shards=1).collect()}
    # the oversize doc counts at capacity, so it fills a bin alone
    assert out[1].bin_fill <= 512
    assert out[1].bin_idx != out[2].bin_idx


# ---------------------------------------------------------------------------
# Contamination (operators/contamination.py)
# ---------------------------------------------------------------------------

def test_ngram_contamination_planted_overlap(spark):
    from commercepulse_data_pipeline_spark.operators.contamination import (
        ngram_contamination,
    )

    probe = "the quick brown fox jumps over the lazy dog"
    clean = "completely different words with no shared trigrams here at all"
    half = "the quick brown fox runs through entirely novel territory now"
    corpus = spark.createDataFrame(
        [(1, probe), (2, clean), (3, half), (4, "too short")], ["doc_id", "text"]
    )
    probes = spark.createDataFrame([(100, probe)], ["doc_id", "text"])
    out = {r.doc_id: r for r in ngram_contamination(corpus, probes).collect()}
    assert out[1].contamination == 1.0          # verbatim copy of the benchmark
    assert out[2].contamination == 0.0          # no overlap
    assert 0.0 < out[3].contamination < 1.0     # partial leak
    assert 4 not in out                         # <3 tokens -> no shingles

    # plan: the probe vocabulary must broadcast (no shuffle on the corpus
    # side for the membership test)
    plan = ngram_contamination(corpus, probes)._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftSemi" in final, plan


def test_scrub_contamination_splices_probe_passages(spark):
    """Decontamination CORRECTION: every window that matches the probe
    set is spliced with NO canonical survivor — a verbatim embedded eval
    passage disappears from the training doc, partially-overlapping and
    clean docs keep their non-matching tokens, and the probe membership
    test stays a broadcast semi-join."""
    from commercepulse_data_pipeline_spark.operators.contamination import (
        scrub_contamination,
    )

    eval_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    corpus = spark.createDataFrame(
        [
            (1, f"train preamble words {eval_text} train closing words"),
            # shares only the FIRST 8 tokens of the probe (one window)
            (2, "alpha bravo charlie delta echo foxtrot golf hotel "
                "then completely original continuation text follows here"),
            (3, "entirely clean training document with no benchmark text"),
        ],
        ["doc_id", "text"],
    )
    probes = spark.createDataFrame([(100, eval_text)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in scrub_contamination(corpus, probes, window_tokens=8).collect()
    }
    # all 10 probe tokens removed from doc 1 (3 covering windows), no
    # canonical kept anywhere
    assert out[1]["text_scrubbed"] == "train preamble words train closing words"
    assert out[1]["n_tokens_removed"] == 10 and out[1]["n_probe_windows"] == 3
    assert out[2]["n_probe_windows"] == 1 and out[2]["n_tokens_removed"] == 8
    assert out[2]["text_scrubbed"] == (
        "then completely original continuation text follows here"
    )
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["text_scrubbed"] == corpus.collect()[2]["text"]

    plan = (
        scrub_contamination(corpus, probes)
        ._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftSemi" in final, plan


def test_keep_best_per_cluster(spark):
    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        keep_best_per_cluster,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    clusters = dedup_clusters(pairs)
    scores = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.7)],
        ["doc_id", "quality_score"],
    )
    out = {r.cluster_id: r for r in keep_best_per_cluster(clusters, scores).collect()}
    # cluster {1,2,3}: 2 and 3 tie on score -> lowest id (2) wins
    assert out[1].kept_doc_id == 2 and out[1].cluster_size == 3 and out[1].n_dropped == 2
    # cluster {10,11}: 11 has the higher score
    assert out[10].kept_doc_id == 11 and out[10].n_dropped == 1


# ---------------------------------------------------------------------------
# PII scrub + line dedup (operators/text.py)
# ---------------------------------------------------------------------------

def test_scrub_planted_pii_and_lines(spark):
    from commercepulse_data_pipeline_spark.operators import text as tx

    doc = (
        "contact me at alice@example.com or +1 (555) 123-4567\n"
        "see https://example.com/path?q=1 for details\n"
        "see https://example.com/path?q=1 for details\n"
        "clean closing line"
    )
    df = spark.createDataFrame([(1, doc), (2, "no pii here at all")], ["doc_id", "text"])
    out = {r.doc_id: r for r in tx.scrub(df).collect()}
    assert (out[1].n_urls, out[1].n_emails, out[1].n_phones) == (2, 1, 1)
    assert (out[2].n_urls, out[2].n_emails, out[2].n_phones) == (0, 0, 0)
    s = out[1].scrubbed
    assert "<EMAIL>" in s and "<URL>" in s and "<PHONE>" in s
    assert "alice@example.com" not in s and "555" not in s
    # the repeated URL line was deduped BEFORE redaction: one <URL> line
    assert s.count("see <URL> for details") == 1
    assert s.endswith("clean closing line")


def test_scrub_matches_duckdb_on_planted_pii(spark, tmp_path):
    """Regex-dialect agreement on POSITIVE matches: the registered parity
    query only sees a PII-free corpus, so cross-check planted rows through
    the exact oracle SQL against the exact Spark query."""
    import duckdb

    import __spark_entry__ as E

    rows = [
        (1, "mail bob@test.org twice bob@test.org\nmail bob@test.org twice bob@test.org"),
        (2, "call +44 20 7946 0958 now or visit http://x.io/a"),
        (3, "plain text only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    spark_out = {
        r.doc_id: (r.n_urls, r.n_emails, r.n_phones, r.scrubbed_md5)
        for r in E.q_docs_pii_scrub(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'"
    )
    duck_out = {
        int(r[0]): (int(r[1]), int(r[2]), int(r[3]), r[4])
        for r in con.sql(E.oracle_sql()["docs_pii_scrub"]).fetchall()
    }
    con.close()
    assert spark_out == duck_out
    assert spark_out[1][1] == 4  # counts see the RAW text (4 emails pre line-dedup)


def test_repetition_scores_model_and_duckdb(spark, tmp_path):
    """Gopher-style repetition signals match a pure-Python model AND a
    DuckDB replay (group-by mode count vs the Spark sorted-run fold) on
    planted boilerplate."""
    import duckdb

    from commercepulse_data_pipeline_spark.operators.text import repetition_scores

    rows = [
        (1, "header\nbody one\nheader\nbody two\nheader"),
        (2, "buy now buy now buy now click here"),
        (3, "all distinct lines\nand unique words entirely"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.dup_line_frac, r.top_ngram_frac)
        for r in repetition_scores(df, "text").collect()
    }

    def model(text):
        lines = text.split("\n")
        dup = (len(lines) - len(set(lines))) / len(lines) if lines else 0.0
        toks = [t for t in text.lower().split() if t]
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        top = max((grams.count(g) for g in set(grams)), default=0)
        return (round(dup, 6), round(top / len(grams), 6) if grams else 0.0)

    for doc_id, text in rows:
        assert got[doc_id] == model(text), (doc_id, got[doc_id], model(text))
    assert got[1][0] == pytest.approx(2 / 5)   # 3x "header" → 2 repeat lines
    assert got[2][1] == pytest.approx(3 / 7)   # "buy now" 3 of 7 bigrams

    # DuckDB replay: same tokenization fragment as the registered oracles
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'"
    )
    sql = """
        WITH t AS (
          SELECT doc_id,
                 string_split(text, chr(10)) AS lines,
                 list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
          FROM documents
        ), g AS (
          SELECT doc_id, lines,
                 CASE WHEN len(toks) >= 2
                      THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
                      ELSE [] END AS grams
          FROM t
        ), u AS (
          SELECT doc_id, unnest(grams) AS gram FROM g
        ), mode_cnt AS (
          SELECT doc_id, max(c) AS top FROM (
            SELECT doc_id, gram, count(*) AS c FROM u GROUP BY doc_id, gram
          ) GROUP BY doc_id
        )
        SELECT g.doc_id,
               round((len(g.lines) - len(list_distinct(g.lines))) / CAST(len(g.lines) AS DOUBLE), 6) AS dup_line_frac,
               round(COALESCE(mode_cnt.top, 0) / CAST(NULLIF(len(g.grams), 0) AS DOUBLE), 6) AS top_ngram_frac
        FROM g LEFT JOIN mode_cnt USING (doc_id)
    """
    duck = {
        int(r[0]): (float(r[1]), float(r[2]) if r[2] is not None else 0.0)
        for r in con.sql(sql).fetchall()
    }
    con.close()
    assert duck == got


def test_assign_splits_disjoint_exhaustive_stable(spark):
    """Train/val/test assignment: every row labeled (exhaustive), labels
    from the declared set (disjoint by construction), fractions near the
    requested ones, and — the property that matters — NO row migrates
    when the corpus grows (randomSplit's leakage mode)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from commercepulse_data_pipeline_spark.operators.sampling import assign_splits

    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = spark.range(2000).select(F.col("id").alias("doc_id"))
    big = spark.range(6000).select(F.col("id").alias("doc_id"))

    a = assign_splits(small, "doc_id", splits, salt="s1:")
    counts = {r["split"]: r["count"] for r in a.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000          # exhaustive, one label each
    assert counts["train"] == _pytest.approx(1600, rel=0.1)
    assert counts["val"] == _pytest.approx(200, rel=0.3)

    b = assign_splits(big, "doc_id", splits, salt="s1:")
    small_map = {r.doc_id: r.split for r in a.collect()}
    big_map = {r.doc_id: r.split for r in b.collect()}
    assert all(big_map[k] == v for k, v in small_map.items())  # growth-stable

    # different salt → independent assignment (not identical)
    c = {r.doc_id: r.split for r in
         assign_splits(small, "doc_id", splits, salt="s2:").collect()}
    assert any(c[k] != v for k, v in small_map.items())

    with _pytest.raises(ValueError):
        assign_splits(small, "doc_id", {"train": 0.5, "test": 0.1})


def test_epoch_shuffle_permutation_and_reproducibility(spark):
    """(a) each key appears exactly once with contiguous per-shard
    positions 1..n (a true permutation, no row lost or duplicated);
    (b) the permutation is identical across repartitionings (the
    property orderBy(rand) lacks); (c) different epochs give different
    orders; (d) shards are roughly balanced."""
    from commercepulse_data_pipeline_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = epoch_shuffle(df, "doc_id", epoch=1, n_shards=4).collect()
    assert len(out) == 2000
    assert len({r["doc_id"] for r in out}) == 2000
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
        assert len(poss) > 2000 // 4 // 2  # no badly starved shard

    # reproducible under a different physical partitioning
    again = epoch_shuffle(
        df.repartition(13), "doc_id", epoch=1, n_shards=4
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))

    # a different epoch is a different permutation of the same corpus
    e2 = epoch_shuffle(df, "doc_id", epoch=2, n_shards=4).collect()
    assert sorted(r["doc_id"] for r in e2) == sorted(r["doc_id"] for r in out)
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in e2} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }


def test_assign_splits_grouped_members_share_split(spark):
    """assign_splits_grouped (r11): every member of a cluster lands in
    the SAME split (the near-dup leakage-safety contract); docs outside
    any cluster fall back to their own key as singleton groups and match
    plain assign_splits on that key; the partition stays disjoint and
    exhaustive over the whole corpus."""
    from commercepulse_data_pipeline_spark.operators.sampling import (
        assign_splits,
        assign_splits_grouped,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # clusters: {0..4} -> 0, {10, 11} -> 10; everything else singleton
    membership = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    out = assign_splits_grouped(
        docs, "doc_id", membership,
        {"train": 0.8, "val": 0.1, "test": 0.1}, salt="t-v1:",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 200  # exhaustive, no dup rows from the join
    assert len({rows[i]["split"] for i in range(5)}) == 1
    assert rows[10]["split"] == rows[11]["split"]
    assert rows[0]["split_key"] == "0" and rows[10]["split_key"] == "10"
    # singletons replay plain per-row assignment on their own key
    plain = {
        r["doc_id"]: r["split"]
        for r in assign_splits(
            docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="t-v1:"
        ).collect()
    }
    for i in range(20, 200):
        assert rows[i]["split"] == plain[i], i
    # a planted near-dup pair straddling splits under PLAIN assignment
    # is pulled into one split by the grouped form — the leakage fix
    straddlers = [
        (a, b) for a in range(5) for b in range(5)
        if a < b and plain[a] != plain[b]
    ]
    assert straddlers, "fixture should contain a straddling pair"


def test_label_centroid_outliers_planted(spark):
    """label_centroid_outliers (r11): the planted far-from-centroid
    vector ranks first for its label; ranking is rounded-distance desc
    with id tiebreak; top_n caps per label."""
    from commercepulse_data_pipeline_spark.operators.similarity import (
        label_centroid_outliers,
    )

    rows = []
    # label 0: tight cloud at e1 + one far outlier at -e1 (vec_id 99)
    for i in range(9):
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0], 0))
    rows.append((99, [-1.0, 0.0, 0.0, 0.0], 0))
    # label 1: two symmetric points — tie broken by id
    rows.append((200, [0.0, 1.0, 0.0, 0.0], 1))
    rows.append((201, [0.0, -1.0, 0.0, 0.0], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = label_centroid_outliers(df, top_n=2)
    got = {(r["label"], r["rank"]): r for r in out.collect()}
    assert got[(0, 1)]["vec_id"] == 99
    assert got[(0, 1)]["centroid_d2"] > got[(0, 2)]["centroid_d2"]
    # symmetric pair: equal distance, id tiebreak
    assert got[(1, 1)]["vec_id"] == 200 and got[(1, 2)]["vec_id"] == 201
    assert got[(1, 1)]["centroid_d2"] == got[(1, 2)]["centroid_d2"]
    assert out.groupBy("label").count().agg(F.max("count")).head()[0] <= 2


def test_assign_splits_grouped_multi_row_membership_no_fanout(spark):
    """ADVICE r11: a malformed membership table with SEVERAL rows per
    member must not fan the left join out — the manifest stays one row
    per doc, and when a member appears under several groups the smallest
    group id wins deterministically (documented MIN reduction)."""
    from commercepulse_data_pipeline_spark.operators.sampling import (
        assign_splits_grouped,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    membership = spark.createDataFrame(
        [(0, 7), (0, 3), (0, 3), (1, 5), (1, 5)],
        "doc_id long, cluster_id long",
    )
    out = assign_splits_grouped(
        docs, "doc_id", membership, {"train": 0.8, "val": 0.2}, salt="t-v1:"
    )
    rows = out.collect()
    assert len(rows) == 10  # no fan-out despite 2-3 rows per member
    keyed = {r["doc_id"]: r for r in rows}
    assert keyed[0]["split_key"] == "3"  # MIN group id wins, not "7"
    assert keyed[1]["split_key"] == "5"
    assert keyed[2]["split_key"] == "2"  # singleton untouched


def test_label_centroid_outliers_empty_or_null_first_raises(spark):
    """ADVICE r11: an empty corpus (head() is None) or a NULL first
    vector must raise a clear ValueError, not an opaque TypeError from
    len(None)."""
    from commercepulse_data_pipeline_spark.operators.similarity import (
        label_centroid_outliers,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match="empty or its first"):
        label_centroid_outliers(empty)
    null_first = spark.createDataFrame(
        [(1, None, 0)], "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match="empty or its first"):
        label_centroid_outliers(null_first)


def test_cluster_size_histogram_with_and_without_singletons(spark):
    """cluster_size_histogram (r12): one row per size with cluster and
    doc counts; the corpus argument adds unclustered docs as size-1
    singletons so n_docs sums to the whole corpus."""
    from commercepulse_data_pipeline_spark.operators.graph import (
        cluster_size_histogram,
        dedup_clusters,
    )

    # clusters: {0,1,2} and {10,11} and {20,21}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    clusters = dedup_clusters(pairs)
    hist = {r["cluster_size"]: r for r in cluster_size_histogram(clusters).collect()}
    assert hist[3]["n_clusters"] == 1 and hist[3]["n_docs"] == 3
    assert hist[2]["n_clusters"] == 2 and hist[2]["n_docs"] == 4
    assert set(hist) == {2, 3}

    corpus = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    full = {
        r["cluster_size"]: r
        for r in cluster_size_histogram(clusters, corpus).collect()
    }
    assert full[1]["n_clusters"] == 23 and full[1]["n_docs"] == 23
    assert sum(r["n_docs"] for r in full.values()) == 30

    # all-clustered corpus: no size-1 row materializes
    tight = spark.createDataFrame([(i,) for i in (0, 1, 2, 10, 11, 20, 21)], "doc_id long")
    no_single = {
        r["cluster_size"] for r in cluster_size_histogram(clusters, tight).collect()
    }
    assert no_single == {2, 3}


def test_score_bands_partitioned_ntile_semantics(spark):
    """score_bands (r12): per-partition head/middle/tail on the
    deterministic (score, id) order — uneven groups give the earlier
    bands the extra rows (SQL NTILE), ties break by id, partitions band
    independently, and a labels/n_bands mismatch raises."""
    from commercepulse_data_pipeline_spark.operators.sampling import score_bands

    rows = [
        # lang a: 7 docs, scores ascending by doc_id; ntile(3) -> 3/2/2
        *[("a", i, float(i)) for i in range(7)],
        # lang b: 3 docs all TIED on score -> id order decides bands
        ("b", 10, 1.0), ("b", 11, 1.0), ("b", 12, 1.0),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, score double")
    out = {(r.lang, r.doc_id): r.band
           for r in score_bands(df, "score", partition_col="lang").collect()}
    assert [out[("a", i)] for i in range(7)] == [
        "head", "head", "head", "middle", "middle", "tail", "tail"
    ]
    assert (out[("b", 10)], out[("b", 11)], out[("b", 12)]) == (
        "head", "middle", "tail"
    )
    with pytest.raises(ValueError, match="labels"):
        score_bands(df, "score", partition_col="lang", n_bands=4)


def test_score_bands_histogram_ties_share_band(spark):
    """score_bands_histogram (r12): global banding via the histogram
    two-pass — band by integer floor((cum_start*n)/total) over the
    distinct-score histogram, so rows TIED on the score always share a
    band even when that makes band sizes uneven; distinct scores split
    evenly; label arity is enforced."""
    from commercepulse_data_pipeline_spark.operators.sampling import (
        score_bands_histogram,
    )

    # 6 distinct scores x 1 row -> bands of 2/2/2
    even = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "doc_id long, score double"
    )
    got = {r.doc_id: r.band for r in score_bands_histogram(even, "score").collect()}
    assert [got[i] for i in range(6)] == [
        "head", "head", "middle", "middle", "tail", "tail"
    ]

    # heavy tie mass: 7 rows at score 1.0, then 2.0, 3.0 -> cum_start of
    # 1.0 is 0 (head), 2.0 starts at 7 of 9 -> floor(21/9)=2 (tail),
    # 3.0 starts at 8 of 9 -> tail. All ties share 'head'.
    tied = spark.createDataFrame(
        [(i, 1.0) for i in range(7)] + [(10, 2.0), (11, 3.0)],
        "doc_id long, score double",
    )
    got2 = {r.doc_id: r.band for r in score_bands_histogram(tied, "score").collect()}
    assert all(got2[i] == "head" for i in range(7))
    assert got2[10] == "tail" and got2[11] == "tail"

    with pytest.raises(ValueError, match="labels"):
        score_bands_histogram(even, "score", n_bands=5)


def test_cluster_table_artifact_roundtrip_and_single_cc(spark, tmp_path):
    """write_cluster_table / read_cluster_table (r13, VERDICT item 3):
    the pair graph + CC run is materialized ONCE; every report consumer
    reads the artifact, so the composed plan for any consumer contains a
    parquet scan of the artifact and NO connected-components subtree
    (no iterative join rounds, no localCheckpoint scans)."""
    from commercepulse_data_pipeline_spark.operators.graph import (
        cluster_size_histogram,
        dedup_clusters,
        keep_best_per_cluster,
        read_cluster_table,
        read_cluster_table_meta,
        write_cluster_table,
    )

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    clusters = dedup_clusters(pairs)
    path = str(tmp_path / "cluster_table")
    write_cluster_table(
        clusters, path, provenance={"blocker": "minhash", "bands": 4}
    )
    assert read_cluster_table_meta(spark, path) == {
        "blocker": "minhash",
        "bands": 4,
    }

    art = read_cluster_table(spark, path)
    # artifact equals the from-scratch derivation
    assert sorted(map(tuple, art.collect())) == sorted(
        map(tuple, clusters.select("doc_id", "cluster_id", "cluster_size").collect())
    )

    # consumers accept the artifact directly, and their plans are pure
    # parquet-scan reports: FileScans only, zero CC iterations (iterative
    # CC surfaces as ExistingRDD scans of localCheckpoint'd label state —
    # none may appear; corpus is parquet-backed so the assertion is clean)
    spark.createDataFrame([(i,) for i in range(15)], "doc_id long").write.parquet(
        str(tmp_path / "corpus")
    )
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    hist = cluster_size_histogram(art, corpus)
    scores = corpus.select("doc_id", (F.col("doc_id") % 3).alias("quality_score"))
    best = keep_best_per_cluster(art, scores)
    for consumer in (hist, best):
        plan = consumer._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" in plan
        assert "ExistingRDD" not in plan  # no localCheckpoint'd CC state
    assert {r["cluster_size"]: r["n_docs"] for r in hist.collect()} == {
        1: 10,
        2: 2,
        3: 3,
    }
    assert {r["cluster_id"]: r["kept_doc_id"] for r in best.collect()} == {
        0: 2,   # scores 0,1,2 -> doc 2 wins
        10: 11,  # scores 1,2 -> doc 11 wins
    }


def test_cluster_table_artifact_rejects_foreign_schema(spark, tmp_path):
    """A parquet directory that is not a cluster table is refused at both
    ends: write raises on missing pinned columns; read raises when the
    meta sidecar's pinned schema disagrees."""
    import json

    from commercepulse_data_pipeline_spark.operators.graph import (
        read_cluster_table,
        write_cluster_table,
    )

    bad = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError, match="missing columns"):
        write_cluster_table(bad, str(tmp_path / "nope"))

    path = tmp_path / "foreign"
    bad.write.parquet(str(path / "clusters"))
    spark.createDataFrame(
        [(json.dumps({"schema": ["a", "b"], "provenance": {}}),)], "meta string"
    ).coalesce(1).write.json(str(path / "meta"))
    with pytest.raises(ValueError, match="not a cluster-table artifact"):
        read_cluster_table(spark, str(path))


def test_score_bands_null_scores_contract(spark):
    """null_scores (r13, VERDICT item 4): the two banding forms share one
    NULL contract — 'raise' (default) fails the job, 'head' bands NULLs
    first, 'exclude' drops them before threshold arithmetic — so a
    NULL-scored doc can never survive one form and vanish from the other."""
    from pyspark.errors import SparkRuntimeException

    from commercepulse_data_pipeline_spark.operators.sampling import (
        score_bands,
        score_bands_histogram,
    )

    rows = [(i, float(i)) for i in range(9)] + [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "doc_id long, score double")

    for fn in (
        lambda d, **kw: score_bands(d, "score", partition_col=None, **kw),
        lambda d, **kw: score_bands_histogram(d, "score", **kw),
    ):
        # default raises lazily, at job time, with the column named
        with pytest.raises(SparkRuntimeException, match="NULL value in score column"):
            fn(df).collect()

        # 'head': NULLs take the first label; scored rows band as usual
        got = {r["doc_id"]: r["band"] for r in fn(df, null_scores="head").collect()}
        assert got[100] == "head" and got[101] == "head"
        assert got[8] == "tail" and got[0] == "head"

        # 'exclude': NULL rows gone, and thresholds computed WITHOUT them:
        # 9 scored rows split 3/3/3 in both forms
        ex = {r["doc_id"]: r["band"] for r in fn(df, null_scores="exclude").collect()}
        assert 100 not in ex and 101 not in ex
        assert [ex[i] for i in range(9)] == (
            ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
        )

        with pytest.raises(ValueError, match="null_scores"):
            fn(df, null_scores="bogus")

    # no-NULL input: 'raise' is a no-op wrapper — results identical to 'head'
    clean = spark.createDataFrame(rows[:9], "doc_id long, score double")
    a = {r["doc_id"]: r["band"] for r in score_bands_histogram(clean, "score").collect()}
    b = {
        r["doc_id"]: r["band"]
        for r in score_bands_histogram(clean, "score", null_scores="head").collect()
    }
    assert a == b


def test_dedup_savings_by_source(spark):
    """dedup_savings_by_source (r13): per-source member/drop counts under
    the min-id keep policy; cross-source clusters charge each side only
    for its own members; the canonical is never counted dropped; works
    against a read_cluster_table artifact unchanged."""
    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        dedup_savings_by_source,
        read_cluster_table,
        write_cluster_table,
    )

    corpus = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (10, "b"), (11, "b"), (20, "c")],
        "doc_id long, source string",
    )
    # cluster {1,2,3} spans a/b (canonical 1 in a); {10,11} inside b
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    clusters = dedup_clusters(pairs)
    got = {r["source"]: r for r in
           dedup_savings_by_source(clusters, corpus, "source").collect()}
    assert got["a"]["n_docs"] == 2 and got["a"]["n_clustered"] == 2
    assert got["a"]["n_dropped"] == 1  # doc 2; canonical 1 not dropped
    assert got["b"]["n_docs"] == 3 and got["b"]["n_clustered"] == 3
    assert got["b"]["n_dropped"] == 2  # doc 3 (cluster 1) + doc 11
    assert got["c"]["n_docs"] == 1 and got["c"]["n_clustered"] == 0
    assert got["c"]["n_dropped"] == 0 and got["c"]["dup_frac"] == 0.0
    assert got["b"]["dup_frac"] == round(2 / 3, 6)


def test_merge_cluster_update_equals_from_scratch(spark):
    """merge_cluster_update (r13): folding batch pairs into an existing
    cluster table is row-identical to from-scratch CC over the union of
    all pairs — including cluster merges ACROSS old clusters, new-only
    clusters, and untouched passthrough."""
    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        merge_cluster_update,
    )

    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)], "id_a long, id_b long"
    )
    # batch: bridges old clusters {1,2,3} and {10,11}; extends {20,21};
    # creates a brand-new cluster {40,41}; {30,31} untouched
    new_pairs = spark.createDataFrame(
        [(3, 10), (21, 22), (40, 41)], "id_a long, id_b long"
    )
    old = dedup_clusters(old_pairs)
    got = sorted(
        map(tuple, merge_cluster_update(old, new_pairs).collect())
    )
    want = sorted(
        map(tuple, dedup_clusters(old_pairs.unionByName(new_pairs)).collect())
    )
    assert got == want
    merged = {r[0]: (r[1], r[2]) for r in got}
    assert merged[11] == (1, 5)   # bridged cluster: min id 1, size 5
    assert merged[22] == (20, 3)
    assert merged[40] == (40, 2) and merged[30] == (30, 2)


def test_update_cluster_table_artifact_roundtrip(spark, tmp_path):
    """update_cluster_table (r13): the artifact folds a batch in place —
    read-back equals the from-scratch table and the provenance sidecar
    carries forward."""
    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        read_cluster_table,
        read_cluster_table_meta,
        update_cluster_table,
        write_cluster_table,
    )

    path = str(tmp_path / "ct")
    p1 = spark.createDataFrame([(1, 2), (10, 11)], "id_a long, id_b long")
    p2 = spark.createDataFrame([(2, 10), (50, 51)], "id_a long, id_b long")
    write_cluster_table(dedup_clusters(p1), path, provenance={"gen": 1})

    upd = update_cluster_table(spark, path, p2)
    want = sorted(map(tuple, dedup_clusters(p1.unionByName(p2)).collect()))
    assert sorted(map(tuple, upd.collect())) == want
    assert sorted(map(tuple, read_cluster_table(spark, path).collect())) == want
    assert read_cluster_table_meta(spark, path) == {"gen": 1}  # carried


@pytest.mark.slow
def test_update_cluster_table_crash_between_swap_renames(spark, tmp_path):
    """update_cluster_table's rename-aside swap (r13): simulate a crash
    between the two renames (rows stranded at clusters.old) — the next
    update adopts the backup and converges to the same table a clean run
    produces; a plain-overwrite formulation would misread the missing
    dir and lose the corpus's cluster state."""
    import os

    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        read_cluster_table,
        update_cluster_table,
        write_cluster_table,
    )

    path = str(tmp_path / "ct")
    p1 = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    p2 = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    write_cluster_table(dedup_clusters(p1), path, provenance={})
    update_cluster_table(spark, path, p2)

    # crash simulation: live rows renamed aside, .tmp never landed
    # (clear the retained rollback copy first — r14 keeps .old after a
    # successful update, and os.replace refuses a non-empty dir target)
    import shutil

    shutil.rmtree(f"{path}/clusters.old", ignore_errors=True)
    os.replace(f"{path}/clusters", f"{path}/clusters.old")
    p3 = spark.createDataFrame([(3, 4)], "id_a long, id_b long")
    upd = update_cluster_table(spark, path, p3)
    want = sorted(
        map(tuple, dedup_clusters(
            p1.unionByName(p2).unionByName(p3)
        ).collect())
    )
    assert sorted(map(tuple, upd.collect())) == want
    assert sorted(map(tuple, read_cluster_table(spark, path).collect())) == want
    # r14: clusters.old is RETAINED after a successful update as the
    # rollback copy (ADVICE r13) — it must hold the PRE-update table...
    pre = sorted(
        map(tuple, dedup_clusters(p1.unionByName(p2)).collect())
    )
    got_old = sorted(
        map(
            tuple,
            spark.read.parquet(f"{path}/clusters.old")
            .select("doc_id", "cluster_id", "cluster_size")
            .collect(),
        )
    )
    assert got_old == pre
    # ...and adoption still only fires when the live dir is GONE: with
    # rows_dir live, the stale backup is superseded by the next update
    p4 = spark.createDataFrame([(4, 5)], "id_a long, id_b long")
    update_cluster_table(spark, path, p4)
    want4 = sorted(
        map(tuple, dedup_clusters(
            p1.unionByName(p2).unionByName(p3).unionByName(p4)
        ).collect())
    )
    assert (
        sorted(map(tuple, read_cluster_table(spark, path).collect())) == want4
    )
    got_old4 = sorted(
        map(
            tuple,
            spark.read.parquet(f"{path}/clusters.old")
            .select("doc_id", "cluster_id", "cluster_size")
            .collect(),
        )
    )
    assert got_old4 == want  # backup advanced to the p3-era table
