"""CLI integration: generator → load-live → transform → report → dims,
all through the argparse entry points (the reference-user switchover
path)."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark import cli


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    out = tmp_path_factory.mktemp("cli_landing")
    # generator is a plain-python tool — run it as the user would
    subprocess.run(
        [sys.executable, "tools/generate_events.py", "--out", str(out),
         "--date", "2026-02-19", "--events", "200", "--seed", "7"],
        check=True,
    )
    return out


def test_generator_deterministic(tmp_path):
    for d in ("a", "b"):
        subprocess.run(
            [sys.executable, "tools/generate_events.py", "--out", str(tmp_path / d),
             "--date", "2026-02-19", "--events", "50", "--seed", "123"],
            check=True,
        )
    a = (tmp_path / "a" / "2026-02-19" / "events.jsonl").read_text()
    b = (tmp_path / "b" / "2026-02-19" / "events.jsonl").read_text()
    assert a == b


@pytest.mark.slow
def test_cli_full_lifecycle(spark, landing, tmp_path):
    bronze = str(tmp_path / "bronze")
    warehouse = str(tmp_path / "warehouse")
    reports = str(tmp_path / "reports")

    assert cli.main(["load-live", "2026-02-19", "--landing", str(landing), "--bronze", bronze]) == 0
    assert cli.main(["transform", "--bronze", bronze, "--warehouse", warehouse, "--csv"]) == 0
    assert cli.main(["report", "--bronze", bronze, "--out", reports]) == 0

    daily = spark.read.parquet(f"{warehouse}/fact_order_daily.parquet")
    orders = spark.read.parquet(f"{warehouse}/fact_orders.parquet")
    assert daily.count() > 0 and orders.count() > 0
    # invariant: net = gross − refunds on every daily row
    for r in daily.collect():
        assert abs(r.net_revenue - (r.gross_revenue - r.total_refunds)) < 0.01
    # duplicate replays collapsed: order ids unique
    assert orders.select("order_id").distinct().count() == orders.count()
    report_txt = (tmp_path / "reports" / "quality_report.txt").read_text()
    assert "revenue_integrity" in report_txt and "orphans" in report_txt


def test_cli_incremental_days_and_reload(spark, landing, tmp_path):
    """Two landing days loaded incrementally; re-loading a day is
    idempotent (the reference's replay-safe Mongo upsert, K1)."""
    subprocess.run(
        [sys.executable, "tools/generate_events.py", "--out", str(landing),
         "--date", "2026-02-20", "--events", "100", "--seed", "8"],
        check=True,
    )
    bronze = str(tmp_path / "bronze2")
    assert cli.main(["load-live", "2026-02-19", "--landing", str(landing), "--bronze", bronze]) == 0
    day1 = spark.read.parquet(bronze).count()
    assert cli.main(["load-live", "2026-02-20", "--landing", str(landing), "--bronze", bronze]) == 0
    both = spark.read.parquet(bronze)
    assert both.count() > day1
    # distinct event ids across the union (generator dups collapse per load)
    assert both.select("event_id").distinct().count() == both.count()
    # replay day 2: append happens, but read-side dedup keeps counts stable
    assert cli.main(["load-live", "2026-02-20", "--landing", str(landing), "--bronze", bronze]) == 0
    from commercepulse_data_pipeline_spark.sources.readers import read_bronze

    deduped = read_bronze(spark, bronze)
    assert deduped.count() == both.count()  # no new logical events


@pytest.mark.slow
def test_clean_corpus_pipeline(spark, tmp_path):
    """End-to-end corpus cleaning: planted exact dups, near-dups, and PII
    flow through scrub → dedup → cluster-keep-best → sample → pack."""
    from commercepulse_data_pipeline_spark import cli

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, near),                                   # near-dup of 1
        (4, "mail me at a@b.co\n" + "unique words entirely different content here"),
        (5, "another completely distinct document with its own vocabulary set"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))

    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
    ])
    assert rc == 0
    corpus = spark.read.parquet(str(tmp_path / "out/corpus"))
    kept = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert 2 not in kept                   # exact dup dropped
    assert len(kept & {1, 3}) == 1          # near-dup cluster -> one survivor
    assert 4 in kept and 5 in kept
    pii_doc = corpus.where(F.col("doc_id") == 4).head()
    assert "<EMAIL>" in pii_doc.text and "a@b.co" not in pii_doc.text
    windows = spark.read.parquet(str(tmp_path / "out/windows"))
    assert windows.count() >= 1
    assert windows.agg(F.max("window_tokens")).head()[0] <= 64

    # repetition gate: the bigram-boilerplate doc AND the repeated-line
    # doc are dropped when thresholds are on, clean docs survive. The
    # dup-line gate must see RAW text — scrub's line-dedup would erase
    # the very repeats it measures (caught in the r5 self-review).
    rows2 = rows + [
        (6, "spam spam spam spam spam spam spam spam"),
        (7, "same header line\n" * 60 + "one real sentence of content here"),
    ]
    spark.createDataFrame(rows2, ["doc_id", "text"]).write.mode("overwrite").parquet(
        str(tmp_path / "docs2")
    )
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs2"),
        "--out", str(tmp_path / "out2"),
        "--capacity", "64",
        "--max-top-ngram-frac", "0.5",
        "--max-dup-line-frac", "0.5",
    ])
    assert rc == 0
    kept2 = {r.doc_id for r in
             spark.read.parquet(str(tmp_path / "out2/corpus")).select("doc_id").collect()}
    assert 6 not in kept2          # "spam spam" bigram frac = 1.0 > 0.5
    assert 7 not in kept2          # 59/62 lines are repeats > 0.5
    assert 4 in kept2 and 5 in kept2

    # --splits: every kept doc gets a split label from the declared set,
    # and the assignment is content-keyed (rerun -> identical labels)
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out3"),
        "--capacity", "64",
        "--splits", "train=0.8,val=0.1,test=0.1",
    ])
    assert rc == 0
    c3 = spark.read.parquet(str(tmp_path / "out3/corpus"))
    labels = {r.doc_id: r.split for r in c3.select("doc_id", "split").collect()}
    assert labels and set(labels.values()) <= {"train", "val", "test"}
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out4"),
        "--capacity", "64",
        "--splits", "train=0.8,val=0.1,test=0.1",
    ])
    assert rc == 0
    again = {r.doc_id: r.split for r in
             spark.read.parquet(str(tmp_path / "out4/corpus"))
             .select("doc_id", "split").collect()}
    assert again == labels


def test_clean_corpus_passage_dedup_stage(spark, tmp_path):
    """--passage-dedup splices a cross-doc duplicated passage out of the
    non-canonical doc (whole-doc dedup can't touch it: the docs are not
    near-dups), keeps the canonical occurrence, and drops docs hollowed
    below --min-remaining-tokens."""
    from commercepulse_data_pipeline_spark import cli

    # docs share an 8-token passage but have LOW whole-doc Jaccard, so
    # the MinHash near-dup stage stays silent — exactly the gap the
    # passage stage exists for
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    u1 = " ".join(f"u{i} v{i * 3 + 1}" for i in range(10))
    u2 = " ".join(f"w{i} x{i * 7 + 2}" for i in range(10))
    u3 = " ".join(f"f{i}" for i in range(12))
    rows = [
        (1, f"{u1} {shared} closing thought one"),
        (2, f"{u2} {shared} distinct tail two"),
        (3, f"{shared} {u3}"),  # mostly the shared passage -> hollowed out
        (4, "entirely independent content with no overlap whatsoever here "
            "and plenty of extra body to clear the token floor easily"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "docs"))
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--passage-dedup",
        "--min-remaining-tokens", "13",
    ])
    assert rc == 0
    corpus = spark.read.parquet(str(tmp_path / "out/corpus"))
    texts = {r.doc_id: r.text for r in corpus.collect()}
    assert shared in texts[1]                # canonical occurrence kept
    assert shared not in texts[2]            # spliced out
    assert "distinct tail two" in texts[2]   # surroundings survive
    assert 3 not in texts                    # hollowed below 13 tokens
    assert 4 in texts


def test_clean_corpus_sample_then_split_independent_salts(spark, tmp_path):
    """Regression (ADVICE r5, high): --sample-rate r<1 composed with
    --splits must still distribute survivors across ALL splits. With the
    same salt for both, every sample survivor has bucket < r*2^32, so the
    split boundaries (laid out over the full [0, 2^32) range in sorted
    name order: test < train < val) would put EVERY row in the lowest
    range — all 'test', none in train/val."""
    from commercepulse_data_pipeline_spark import cli

    rows = [
        (i, f"alpha{i} beta{2 * i + 1} gamma{3 * i + 7} delta{5 * i} "
            f"epsilon{7 * i} zeta{11 * i} eta{13 * i} theta{17 * i}")
        for i in range(300)
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(
        str(tmp_path / "docs")
    )
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--sample-rate", "0.1",
        "--splits", "train=0.8,val=0.1,test=0.1",
    ])
    assert rc == 0
    got = spark.read.parquet(str(tmp_path / "out/corpus")).select("split").collect()
    counts: dict[str, int] = {}
    for r in got:
        counts[r.split] = counts.get(r.split, 0) + 1
    assert sum(counts.values()) >= 10          # ~30 of 300 at rate 0.1
    # the buggy composition put 100% in 'test' (the lowest sorted range)
    assert counts.get("train", 0) > counts.get("test", 0), counts


@pytest.mark.slow
def test_cli_stream_gold(spark, landing, tmp_path):
    """stream-gold drains the landing dir and leaves a gold parquet that
    matches the batch transform's fact_order_daily over the same events."""
    store = str(tmp_path / "sg_store")
    ckpt = str(tmp_path / "sg_ckpt")
    assert cli.main(["stream-gold", "--landing", str(landing),
                     "--store", store, "--checkpoint", ckpt]) == 0

    from commercepulse_data_pipeline_spark.plans.gold import build_fact_order_daily
    from commercepulse_data_pipeline_spark.plans.silver import (
        normalize_orders,
        normalize_payments,
        normalize_refunds,
    )
    from commercepulse_data_pipeline_spark.sources.readers import ENVELOPE_SCHEMA

    events = (
        spark.read.schema(ENVELOPE_SCHEMA)
        .json(f"{landing}/*/events.jsonl")
        .where(F.col("event_id").isNotNull())
    )
    expect = build_fact_order_daily(
        normalize_orders(events), normalize_payments(events), normalize_refunds(events)
    )
    got = spark.read.parquet(f"{store}/gold").select(*expect.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    assert got.count() > 0


def test_cli_skew_report_subcommand(spark, tmp_path, capsys):
    from commercepulse_data_pipeline_spark import cli

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [("hot",)] * 50 + [(f"k{i}",) for i in range(10)], "k string"
    ).write.parquet(p)
    assert cli.main(["skew-report", p, "k", "--top-n", "2"]) == 0
    out = capsys.readouterr().out
    # 11 keys → r99 rank = 11 → p99 IS the hot key, so the salt rec is 1
    # (nothing to level against); the ratio still exposes the skew
    assert "key=k" in out and "max=50" in out and "ratio=50.0" in out
    assert "p50=1" in out and "rec_salt_buckets=1" in out
    assert "top=[hot,k0]" in out


def test_cli_stream_passage_dedup(spark, tmp_path):
    """stream-passage-dedup drains the drops, splices the cross-batch
    duplicated passage, and --probes pre-seeds eval fingerprints so the
    eval text is removed from the very first arrival."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    eval_text = "november oscar papa quebec romeo sierra tango uniform victor"
    drops = tmp_path / "drops"
    drops.mkdir()
    rows = [
        (1, f"canonical carrier text {shared} with unique framing one"),
        (2, f"other document also quoting {shared} but differently framed"),
        (3, f"training doc leaking {eval_text} inside normal prose"),
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                  "text": [r[1] for r in rows]}),
        str(drops / "d0.parquet"),
    )
    os.utime(str(drops / "d0.parquet"), (time.time() - 60, time.time() - 60))
    probes = tmp_path / "probes"
    spark.createDataFrame([(100, eval_text)], "doc_id long, text string") \
        .write.parquet(str(probes))

    store = str(tmp_path / "store")
    rc = cli.main([
        "stream-passage-dedup",
        "--docs", str(drops),
        "--store", store,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--probes", str(probes),
    ])
    assert rc == 0
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(f"{store}/corpus").collect()}
    assert shared in texts[1]        # within-batch canonical survives
    assert shared not in texts[2]    # duplicate spliced
    assert "november" not in texts[3] and "victor" not in texts[3]
    assert "training doc leaking" in texts[3]


def test_cli_media_features(spark, tmp_path):
    """media-features featurizes a binary parquet through the real
    decoders and quarantines corrupt payloads by default."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import sys as _sys
    import os as _os
    _sys.path.insert(0, _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), "tests"))
    from test_multimodal import _bmp_bytes

    src = str(tmp_path / "media")
    pq.write_table(
        pa.table({
            "media_id": ["a", "bad"],
            "modality": ["image", "image"],
            "content": pa.array([_bmp_bytes(5, 4), b"\x00junk"], type=pa.binary()),
        }),
        src + ".parquet",
    )
    out = str(tmp_path / "feats")
    rc = cli.main(["media-features", "--media", src + ".parquet",
                   "--out", out, "--real"])
    assert rc == 0
    rows = {r["media_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows["a"]["width"] == 5 and rows["a"]["decode_error"] is None
    assert rows["bad"]["decode_error"] is not None
    # the error column never leaks into the shared strict schema
    from commercepulse_data_pipeline_spark.multimodal import FEATURE_SCHEMA

    assert "decode_error" not in FEATURE_SCHEMA.fieldNames()


def test_clean_corpus_boilerplate_and_dsir_stages(spark, tmp_path):
    """--strip-boilerplate splices within-source templates before dedup
    (so chrome can't fake near-dups), and --dsir-target keeps only the
    top-k docs by target-likeness."""
    from commercepulse_data_pipeline_spark import cli

    tpl = "subscribe to our newsletter now for daily updates"  # 8 tokens
    rows = [
        (1, "A", f"science article about math and physics topics {tpl}"),
        (2, "A", f"finance piece on markets and trading floors {tpl}"),
        (3, "B", "sports coverage football and racing entirely different"),
        (4, "B", "cooking recipes pasta and sauces entirely separate words"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    tgt = spark.createDataFrame(
        [(i, "science math physics topics article") for i in range(3)],
        ["doc_id", "text"],
    )
    tgt.write.mode("overwrite").parquet(str(tmp_path / "tgt"))

    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--strip-boilerplate",
        "--dsir-target", str(tmp_path / "tgt"),
        "--dsir-top-k", "2",
    ])
    assert rc == 0
    corpus = spark.read.parquet(str(tmp_path / "out/corpus"))
    got = {r.doc_id: r.text for r in corpus.collect()}
    # DSIR top-2: the science doc must survive (most target-like)
    assert 1 in got
    assert len(got) == 2
    # boilerplate spliced from every A doc before anything else
    assert all(tpl not in t for t in got.values())
    # missing source column fails loudly
    docs.drop("source").write.mode("overwrite").parquet(str(tmp_path / "docs2"))
    import pytest as _pytest
    with _pytest.raises(SystemExit, match="source"):
        cli.main([
            "clean-corpus", "--docs", str(tmp_path / "docs2"),
            "--out", str(tmp_path / "out2"), "--strip-boilerplate",
        ])


@pytest.mark.slow
def test_clean_corpus_semantic_pair_source(spark, tmp_path):
    """--pair-source semantic: paraphrase near-dups (same content words,
    different order — invisible to 3-token-shingle MinHash) cluster via
    tfidf hashed vectors and collapse to one survivor."""
    from commercepulse_data_pipeline_spark import cli

    para_a = "solar panels convert sunlight into electricity very efficiently"
    para_b = "efficiently solar panels convert the sunlight into electricity"
    rows = [
        (1, para_a),
        (2, para_b),
        (3, "completely unrelated document about sourdough bread baking"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--pair-source", "semantic",
        "--semantic-tau", "0.8",
    ])
    assert rc == 0
    kept = {r.doc_id for r in
            spark.read.parquet(str(tmp_path / "out/corpus")).collect()}
    assert len(kept & {1, 2}) == 1   # paraphrase pair -> one survivor
    assert 3 in kept


def test_clean_corpus_strip_repeats_stage(spark, tmp_path):
    """--strip-repeats splices within-document repeated spans (first
    occurrence survives) before scrub/dedup; distinct docs sharing a
    span once each are untouched by this stage."""
    from commercepulse_data_pipeline_spark import cli

    loop = "buy now limited offer"  # 4-token span, repeated in doc 1
    rows = [
        (1, f"unique article text here {loop} middle words {loop} tail words"),
        (2, "another entirely different document about something else ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--strip-repeats",
        "--passage-window", "4",
    ])
    assert rc == 0
    out = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(tmp_path / "out" / "corpus")).collect()
    }
    assert out[1].count("buy now limited offer") == 1
    assert out[1].startswith("unique article text here buy now limited offer")
    assert "middle words" in out[1] and out[1].endswith("tail words")
    assert out[2] == rows[1][1]


def test_clean_corpus_quarantine_reasons(spark, tmp_path):
    """--quarantine (r12): the exclusion table partitions the input —
    quarantine ∪ kept == input ids, disjoint — and each dropped doc
    carries the FIRST stage that dropped it in stage order."""
    from commercepulse_data_pipeline_spark import cli

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, near),                                   # near-dup of 1
        (4, "mail me at a@b.co\n" + "unique words entirely different content here"),
        (5, "another completely distinct document with its own vocabulary set"),
        (6, "spam spam spam spam spam spam spam spam"),  # repetition gate
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))

    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--max-top-ngram-frac", "0.5",
        "--quarantine",
    ])
    assert rc == 0
    kept = {r.doc_id for r in
            spark.read.parquet(str(tmp_path / "out/corpus")).select("doc_id").collect()}
    q = {r.doc_id: r.reason for r in
         spark.read.parquet(str(tmp_path / "out/quarantine")).collect()}
    # exact partition of the input, one reason per dropped doc
    assert kept.isdisjoint(q)
    assert kept | set(q) == {1, 2, 3, 4, 5, 6}
    assert q[6] == "repetitive"   # gate fires BEFORE dedup sees it
    assert q[2] == "exact_dup"
    near_loser = ({1, 3} - kept).pop()
    assert q[near_loser] == "near_dup"
    assert set(q) == {2, 6, near_loser}

    # default run (no flag): no quarantine output is written
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out_noq"),
        "--capacity", "64",
    ])
    assert rc == 0
    import os
    assert not os.path.exists(str(tmp_path / "out_noq/quarantine"))


def test_clean_corpus_counts_input_as_read(spark, tmp_path, capsys):
    """The summary line counts the input as read, not the frame left
    after the pre-dedup gates: a 3-doc input whose repetition gate drops
    one doc reports 3 docs in, with or without --quarantine."""
    rows = [
        (1, "another completely distinct document with its own vocabulary set"),
        (2, "mail me at a@b.co and some unique words entirely different here"),
        (3, "spam spam spam spam spam spam spam spam"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(str(tmp_path / "docs"))
    capsys.readouterr()
    assert cli.main([
        "clean-corpus", "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"), "--capacity", "64",
        "--max-top-ngram-frac", "0.5",
    ]) == 0
    assert "clean-corpus: 3 docs in -> 2 kept," in capsys.readouterr().out


def test_clean_corpus_confirm_embeddings_gate(spark, tmp_path):
    """--confirm-embeddings (r12): a lexical near-dup pair is dropped
    only when the provided embeddings ALSO agree (cosine >= tau);
    semantically-dissimilar pairs and pairs without vector evidence
    keep both docs."""
    from commercepulse_data_pipeline_spark import cli

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),                      # near-dup pair (1,3): embeddings agree
        (3, base + " tonight"),
        (5, base + " tomorrow"),        # near-dup of 1 too: embeddings DISAGREE
        (7, base + " yesterday"),       # near-dup of 1: NO embedding row
        (9, "completely unrelated content with its own words"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(
        str(tmp_path / "docs")
    )
    emb = [
        (1, [1.0, 0.0, 0.0]),
        (3, [1.0, 0.01, 0.0]),          # cos(1,3) ~ 1.0 -> confirmed
        (5, [0.0, 1.0, 0.0]),           # cos(1,5) = 0  -> not confirmed
        (9, [0.0, 0.0, 1.0]),
    ]
    spark.createDataFrame(emb, "vec_id long, embedding array<float>").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "emb"))

    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--confirm-embeddings", str(tmp_path / "emb"),
        "--confirm-tau", "0.9",
    ])
    assert rc == 0
    kept = {r.doc_id for r in
            spark.read.parquet(str(tmp_path / "out/corpus")).select("doc_id").collect()}
    # (1,3) confirmed -> one survivor; 5 (disagree) and 7 (no vector) survive
    assert len(kept & {1, 3}) == 1
    assert 5 in kept and 7 in kept and 9 in kept

    # control: without the gate, the whole lexical cluster collapses
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out_ctl"),
        "--capacity", "64",
    ])
    assert rc == 0
    kept_ctl = {r.doc_id for r in
                spark.read.parquet(str(tmp_path / "out_ctl/corpus")).select("doc_id").collect()}
    assert len(kept_ctl & {1, 3, 5, 7}) == 1


def test_clean_corpus_ce_band_selection(spark, tmp_path):
    """--ce-bands (r12): after dedup, docs band by unigram-LM
    bits-per-token (histogram two-pass) and only the requested bands
    survive — 'head,middle' drops the rare-word-soup tail; with
    --quarantine the dropped docs carry ce_band_dropped."""
    from commercepulse_data_pipeline_spark import cli

    rows = [
        # six corpus-typical docs: shared vocabulary in orders chosen so
        # NO 3-shingle repeats across docs (verified: zero MinHash
        # candidate pairs), one unique token each
        (1, "the cat alpha dog runs fast big house tree the cat dog"),
        (2, "dog the bravo cat fast runs tree house big dog the cat runs"),
        (3, "runs dog kilo the big cat house fast tree runs dog the big cat"),
        (4, "fast house zulu tree dog big cat the runs fast house tree dog big"),
        (5, "tree big echo house cat dog the fast runs tree big house cat"),
        (6, "house fast nova big runs tree cat dog the house fast big runs tree"),
        # two rare-word-soup docs: every token unique in the corpus ->
        # highest bits-per-token, and the tie-sharing histogram bands
        # put BOTH in the tail (cum_start 6 of 8)
        (7, "qq ww ee rr tt yy uu ii oo pp"),
        (8, "aa ss dd ff gg hh jj kk ll mm nn"),
        # a zero-token doc: no CE row exists, so it cannot band — dropped
        # even though head+middle+tail would cover every scored doc, and
        # quarantined under its own no_tokens reason (ADVICE r12)
        (9, "   "),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(
        str(tmp_path / "docs")
    )
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--ce-bands", "head,middle",
        "--quarantine",
    ])
    assert rc == 0
    kept = {r.doc_id for r in
            spark.read.parquet(str(tmp_path / "out/corpus")).select("doc_id").collect()}
    q = {r.doc_id: r.reason for r in
         spark.read.parquet(str(tmp_path / "out/quarantine")).collect()}
    assert kept == {1, 2, 3, 4, 5, 6}
    assert q == {7: "ce_band_dropped", 8: "ce_band_dropped", 9: "no_tokens"}

    # a bad band name fails loudly, and BEFORE any Spark work (ADVICE
    # r12: validation used to sit past the eager dedup/cluster jobs) —
    # with _spark stubbed to explode, the early SystemExit must win
    import pytest as _pytest

    def _boom():
        raise AssertionError("Spark started before --ce-bands validation")

    orig = cli._spark
    cli._spark = _boom
    try:
        with _pytest.raises(SystemExit, match="ce-bands"):
            cli.main([
                "clean-corpus",
                "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / "out_bad"),
                "--ce-bands", "head,bogus",
            ])
        with _pytest.raises(SystemExit, match="splits"):
            cli.main([
                "clean-corpus",
                "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / "out_bad"),
                "--splits", "train=0.9,oops",
            ])
    finally:
        cli._spark = orig


def test_cli_cluster_table_and_dedup_report(spark, tmp_path, capsys):
    """cluster-table + dedup-report (r13): one persisted CC run feeds the
    report consumers; the report's numbers equal the self-contained
    derivation, and the artifact's provenance records the blocker."""
    from commercepulse_data_pipeline_spark import cli
    from commercepulse_data_pipeline_spark.operators.graph import (
        read_cluster_table_meta,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron")
    rows = [
        (1, base, "a"),
        (2, base + " tail", "a"),          # near-dup of 1
        (3, base + " other tail", "b"),    # near-dup of 1
        (4, "completely different words here nothing shared at all "
            "seven eight nine ten eleven twelve thirteen fourteen", "b"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(
        str(tmp_path / "docs")
    )
    art = str(tmp_path / "ct")
    rc = cli.main(["cluster-table", "--docs", str(tmp_path / "docs"), "--out", art])
    assert rc == 0
    assert read_cluster_table_meta(spark, art)["blocker"] == "minhash"

    rc = cli.main([
        "dedup-report",
        "--cluster-table", art,
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "rpt"),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "keep-one-per-cluster drops 2" in out

    hist = {r.cluster_size: r.n_docs for r in
            spark.read.parquet(str(tmp_path / "rpt/size_histogram")).collect()}
    assert hist == {1: 1, 3: 3}
    sav = {r.source: (r.n_docs, r.n_dropped) for r in
           spark.read.parquet(str(tmp_path / "rpt/savings_by_group")).collect()}
    # cluster {1,2,3} canonical=1 (source a): drops doc 2 (a) + doc 3 (b)
    assert sav == {"a": (2, 1), "b": (2, 1)}


def test_cli_cluster_table_incremental_update(spark, tmp_path):
    """cluster-table --index / --update (r13): a fresh build persists the
    MinHash index; a later --update folds a new batch in (pairs vs index
    + within batch -> merge_cluster_update) and the resulting table
    equals the from-scratch build over all docs seen."""
    from commercepulse_data_pipeline_spark import cli
    from commercepulse_data_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from commercepulse_data_pipeline_spark.operators.graph import (
        dedup_clusters,
        read_cluster_table,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron")
    first = [(1, base), (2, base + " tail one"),
             (3, "totally unrelated words nothing shared here at all "
                 "uno dos tres cuatro cinco seis siete ocho nueve diez")]
    batch = [(10, base + " tail two"),            # near-dup of indexed 1/2
             (11, "brand new unique content snow rain wind cloud storm "
                  "river mountain valley forest meadow ocean desert")]
    spark.createDataFrame(first, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs1"))
    spark.createDataFrame(batch, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs2"))

    art, idx = str(tmp_path / "ct"), str(tmp_path / "idx")
    assert cli.main(["cluster-table", "--docs", str(tmp_path / "docs1"),
                     "--out", art, "--index", idx]) == 0
    assert cli.main(["cluster-table", "--docs", str(tmp_path / "docs2"),
                     "--out", art, "--index", idx, "--update"]) == 0

    got = sorted(map(tuple, read_cluster_table(spark, art).collect()))
    everything = spark.createDataFrame(first + batch, ["doc_id", "text"])
    want = sorted(map(tuple, dedup_clusters(
        minhash_candidate_pairs(everything, "text", "doc_id")
    ).collect()))
    assert got == want
    by_doc = {r[0]: r[1:] for r in got}
    assert by_doc[10] == (1, 3)  # joined the indexed cluster {1,2}

    # --update without --index fails loudly before Spark work
    import pytest as _pytest
    with _pytest.raises(SystemExit, match="--index"):
        cli.main(["cluster-table", "--docs", str(tmp_path / "docs2"),
                  "--out", art, "--update"])


def test_cli_stream_cluster_table(spark, tmp_path):
    """stream-cluster-table subcommand: drains document drops and leaves
    a readable cluster table + dedup-report consumes it."""
    from commercepulse_data_pipeline_spark import cli
    from commercepulse_data_pipeline_spark.operators.graph import (
        read_cluster_table,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron")
    spark.createDataFrame(
        [(1, base), (2, base + " tail")], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(tmp_path / "in"))
    rc = cli.main([
        "stream-cluster-table",
        "--docs", str(tmp_path / "in"),
        "--store", str(tmp_path / "store"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    rows = {r.doc_id: (r.cluster_id, r.cluster_size) for r in
            read_cluster_table(spark, str(tmp_path / "store/clusters")).collect()}
    assert rows == {1: (1, 2), 2: (1, 2)}


def test_clean_corpus_drop_code_gate(spark, tmp_path):
    """--drop-code (r13): the code-vs-prose gate runs on raw text before
    dedup; flagged docs quarantine under 'code', prose survives."""
    from commercepulse_data_pipeline_spark import cli

    rows = [
        (1, "def f(x):\n    y = x + 1;\n    return {\"k\": [y]};\n"
            "    z = [i for i in range(3)];"),
        (2, "The quick brown fox jumps over the lazy dog. It was a bright "
            "cold day in April and all the clocks were striking thirteen."),
        (3, "Another plain prose document with entirely ordinary sentences "
            "and no block structure at all, written for people."),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs"))
    rc = cli.main([
        "clean-corpus",
        "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"),
        "--capacity", "64",
        "--drop-code",
        "--quarantine",
    ])
    assert rc == 0
    kept = {r.doc_id for r in
            spark.read.parquet(str(tmp_path / "out/corpus")).select("doc_id").collect()}
    q = {r.doc_id: r.reason for r in
         spark.read.parquet(str(tmp_path / "out/quarantine")).collect()}
    assert kept == {2, 3}
    assert q == {1: "code"}


def test_media_dedup_cli_image_and_audio(spark, tmp_path):
    """media-dedup (r14): the CLI form of the media near-dup tiers —
    image mode pairs a re-crawled near-copy with its original and
    persists a cluster-table artifact the dedup-report consumers accept;
    audio mode pairs a WAV with its lossless FLAC re-encode; undecodable
    payloads are counted and skipped."""
    import sys as _sys

    import numpy as np

    _sys.path.insert(0, __file__.rsplit("/", 1)[0])
    import test_multimodal as tm

    from commercepulse_data_pipeline_spark import cli
    from commercepulse_data_pipeline_spark.operators.graph import (
        read_cluster_table,
        read_cluster_table_meta,
    )

    rng = np.random.default_rng(53)
    pic = rng.integers(0, 256, size=(24, 36), dtype=np.uint8)
    recrawl = pic.copy()
    recrawl[::8, ::8] = np.clip(recrawl[::8, ::8].astype(int) + 9, 0, 255)
    other = rng.integers(0, 256, size=(24, 36), dtype=np.uint8)
    img_path = str(tmp_path / "imgs")
    spark.createDataFrame(
        [
            ("orig", tm._ppm_from_gray(pic)),
            ("recrawl", tm._ppm_from_gray(recrawl)),
            ("other", tm._ppm_from_gray(other)),
            ("junk", b"nope"),
        ],
        "media_id string, content binary",
    ).write.parquet(img_path)
    img_out = str(tmp_path / "img_out")
    assert cli.main([
        "media-dedup", "--media", img_path, "--out", img_out,
        "--modality", "image", "--hamming", "6", "--cluster-table",
    ]) == 0
    pairs = {(r.id_a, r.id_b) for r in
             spark.read.parquet(f"{img_out}/pairs").collect()}
    assert pairs == {("orig", "recrawl")}
    table = sorted(map(tuple, read_cluster_table(
        spark, f"{img_out}/clusters").collect()))
    assert table == [("orig", "orig", 2), ("recrawl", "orig", 2)]
    assert read_cluster_table_meta(
        spark, f"{img_out}/clusters")["modality"] == "image"

    tone = tm._audio_test_samples("tone")
    fr1 = tm._flac_frame_enc([tone[:2000]], 16, 0, ["verbatim"])
    fr2 = tm._flac_frame_enc([tone[2000:]], 16, 1, ["verbatim"])
    aud_path = str(tmp_path / "auds")
    spark.createDataFrame(
        [
            ("wav", tm._wav_from_samples(tone)),
            ("flac", tm._flac_full([tone], 16, 8000, [fr1, fr2])),
            ("other", tm._wav_from_samples(tm._audio_test_samples("other"))),
        ],
        "media_id string, content binary",
    ).write.parquet(aud_path)
    aud_out = str(tmp_path / "aud_out")
    assert cli.main([
        "media-dedup", "--media", aud_path, "--out", aud_out,
        "--modality", "audio", "--hamming", "4",
    ]) == 0
    apairs = {(r.id_a, r.id_b) for r in
              spark.read.parquet(f"{aud_out}/pairs").collect()}
    assert apairs == {("flac", "wav")}


def test_media_dedup_cli_degenerate_guard(spark, tmp_path, capsys):
    """r15 guard in the CLI: solid-color images (all-one aHash) are
    dropped before pairing by default (no junk pair flood), kept with
    --keep-degenerate, and a family past --max-bucket prints the
    dropped-bucket WARNING instead of silently reading '0 pairs'."""
    import sys as _sys

    import numpy as np

    _sys.path.insert(0, __file__.rsplit("/", 1)[0])
    import test_multimodal as tm

    from commercepulse_data_pipeline_spark import cli

    rng = np.random.default_rng(7)
    pic = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    solid = np.full((16, 16), 200, dtype=np.uint8)  # aHash = all ones
    rows = [("real", tm._ppm_from_gray(pic))]
    rows += [(f"solid-{i}", tm._ppm_from_gray(solid)) for i in range(4)]
    media = str(tmp_path / "m")
    spark.createDataFrame(rows, "media_id string, content binary").write.parquet(media)

    out1 = str(tmp_path / "o1")
    assert cli.main([
        "media-dedup", "--media", media, "--out", out1,
        "--modality", "image", "--hamming", "2",
    ]) == 0
    assert spark.read.parquet(f"{out1}/pairs").count() == 0  # family dropped

    out2 = str(tmp_path / "o2")
    assert cli.main([
        "media-dedup", "--media", media, "--out", out2,
        "--modality", "image", "--hamming", "2", "--keep-degenerate",
    ]) == 0
    kept = {(r.id_a, r.id_b) for r in spark.read.parquet(f"{out2}/pairs").collect()}
    assert kept == {(f"solid-{a}", f"solid-{b}")
                    for a in range(4) for b in range(4) if a < b}

    capsys.readouterr()
    out3 = str(tmp_path / "o3")
    assert cli.main([
        "media-dedup", "--media", media, "--out", out3,
        "--modality", "image", "--hamming", "2", "--keep-degenerate",
        "--max-bucket", "3",
    ]) == 0
    printed = capsys.readouterr().out
    assert "WARNING" in printed and "DROPPED" in printed
    assert spark.read.parquet(f"{out3}/pairs").count() == 0


def test_train_quality_and_clean_corpus_gate(spark, tmp_path, capsys):
    """r15 supervised quality gate end to end: train-quality persists an
    NB model artifact from labeled docs; clean-corpus --quality-model
    drops low-scoring docs with quarantine reason
    'classifier_low_quality' while high-scoring docs survive."""
    from commercepulse_data_pipeline_spark import cli

    good_vocab = "thoughtful analysis of science history culture and ideas"
    spam_vocab = "click here cheap pills casino bonus win free money now"
    labeled = [(f"g{i}", good_vocab, 1) for i in range(6)] + [
        (f"s{i}", spam_vocab, 0) for i in range(6)
    ]
    spark.createDataFrame(
        labeled, "doc_id string, text string, label int"
    ).write.parquet(str(tmp_path / "labeled"))

    model_dir = str(tmp_path / "model")
    assert cli.main([
        "train-quality", "--docs", str(tmp_path / "labeled"),
        "--out", model_dir, "--n-buckets", "128",
    ]) == 0
    assert "12 docs (6 positive)" in capsys.readouterr().out

    rows = [
        (1, "a thoughtful analysis of culture science and history today"),
        (2, "win free money now cheap casino bonus click here pills"),
        (3, "completely unrelated prose about gardening and weather patterns"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs")
    )
    assert cli.main([
        "clean-corpus", "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"), "--capacity", "64",
        "--quality-model", model_dir, "--quarantine",
    ]) == 0
    kept = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "out/corpus")).select("doc_id").collect()}
    assert 1 in kept and 2 not in kept
    q = {(r.doc_id, r.reason) for r in spark.read.parquet(
        str(tmp_path / "out/quarantine")).collect()}
    assert (2, "classifier_low_quality") in q
    # quarantine ∪ kept still partitions the input exactly
    assert kept | {d for d, _ in q} == {1, 2, 3}
    assert not (kept & {d for d, _ in q})


def test_clean_corpus_html_front_stage(spark, tmp_path):
    """r15: --html-col runs HTML-to-text extraction in front of the
    funnel — two crawls of one article under different chrome collapse
    to a single kept doc, and the extracted text (not markup) ships."""
    from commercepulse_data_pipeline_spark import cli

    art = "the identical article body with plenty of tokens to pass gates"
    rows = [
        (1, f'<html><body><div class="nav"><a href="/">siteA home</a></div>'
            f"<p>{art}</p></body></html>", "a"),
        (2, f'<html><body><div class="m"><a href="/b">siteB nav</a></div>'
            f"<p>{art}</p></body></html>", "b"),
        (3, "<html><body><p>a different article with its own vocabulary "
            "and sufficient length</p></body></html>", "a"),
    ]
    spark.createDataFrame(rows, ["doc_id", "page", "source"]).write.parquet(
        str(tmp_path / "docs")
    )
    assert cli.main([
        "clean-corpus", "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "out"), "--capacity", "64",
        "--html-col", "page", "--quarantine",
    ]) == 0
    corpus = spark.read.parquet(str(tmp_path / "out/corpus"))
    kept = {r.doc_id: r.text for r in corpus.collect()}
    assert set(kept) == {1, 3}
    assert kept[1] == art and "<" not in kept[3]
    q = {(r.doc_id, r.reason) for r in spark.read.parquet(
        str(tmp_path / "out/quarantine")).collect()}
    assert (2, "exact_dup") in q


def test_cluster_table_report_occupancy_warns_on_dropped_bucket(
    spark, tmp_path, capsys
):
    """r15: cluster-table --report-occupancy surfaces band buckets the
    --max-bucket cap silently drops — a planted 5-doc exact family past
    a cap of 4 clusters nothing, but the WARNING counts it."""
    from commercepulse_data_pipeline_spark import cli
    from commercepulse_data_pipeline_spark.operators.graph import read_cluster_table

    fam = [(i, "identical degenerate family text repeated across docs here")
           for i in range(5)]
    pairable = [(10, "two near identical docs about gardening and weather one"),
                (11, "two near identical docs about gardening and weather two")]
    spark.createDataFrame(fam + pairable, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs")
    )
    capsys.readouterr()
    assert cli.main([
        "cluster-table", "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "ct"), "--max-bucket", "4",
        "--report-occupancy",
    ]) == 0
    printed = capsys.readouterr().out
    assert "WARNING" in printed and "DROPPED" in printed
    table = {r.doc_id for r in read_cluster_table(spark, str(tmp_path / "ct")).collect()}
    assert not (table & {0, 1, 2, 3, 4})  # the capped family never clustered

    # with an adequate cap the occupancy reads clean
    capsys.readouterr()
    assert cli.main([
        "cluster-table", "--docs", str(tmp_path / "docs"),
        "--out", str(tmp_path / "ct2"), "--max-bucket", "100",
        "--report-occupancy",
    ]) == 0
    assert "occupancy clean" in capsys.readouterr().out


def test_train_quality_multiclass_artifact_and_gate_rejection(
    spark, tmp_path, capsys, monkeypatch
):
    """r15 multiclass routing via the CLI: --multiclass trains the
    per-class model and stamps the artifact kind; the binary quality
    gate REFUSES a multiclass artifact instead of mis-scoring, and does
    so before any chain work (exact dedup is stubbed to explode)."""
    from commercepulse_data_pipeline_spark import cli
    from commercepulse_data_pipeline_spark.operators import classifier as clf

    rows = (
        [(f"e{i}", "the quick brown fox and the lazy dog", "en") for i in range(4)]
        + [(f"s{i}", "el zorro marron y el perro perezoso", "es") for i in range(4)]
    )
    spark.createDataFrame(rows, "doc_id string, text string, lang string").write.parquet(
        str(tmp_path / "labeled")
    )
    model_dir = str(tmp_path / "model")
    assert cli.main([
        "train-quality", "--docs", str(tmp_path / "labeled"),
        "--out", model_dir, "--label-col", "lang",
        "--n-buckets", "64", "--multiclass",
    ]) == 0
    assert "2 classes" in capsys.readouterr().out

    model, meta = clf.read_model(spark, model_dir)
    assert meta["kind"] == "nb-multiclass-v1"
    scored = {r.doc_id: r.predicted_label for r in clf.nb_score_multiclass(
        spark.createDataFrame(
            [("a", "the quick fox"), ("b", "el perro perezoso")],
            "doc_id string, text string",
        ),
        model, n_buckets=64,
    ).collect()}
    assert scored == {"a": "en", "b": "es"}

    spark.createDataFrame(
        [(1, "anything at all")], ["doc_id", "text"]
    ).write.parquet(str(tmp_path / "docs"))
    from commercepulse_data_pipeline_spark.operators import dedup as dd

    def _boom(*a, **k):
        raise AssertionError("chain work ran before the --quality-model check")

    monkeypatch.setattr(dd, "exact_dedup", _boom)
    import pytest as _pytest
    with _pytest.raises(SystemExit, match="BINARY"):
        cli.main([
            "clean-corpus", "--docs", str(tmp_path / "docs"),
            "--out", str(tmp_path / "out"), "--quality-model", model_dir,
        ])


def test_text_index_and_search_cli(spark, tmp_path, capsys):
    """r15 retrieval surface end to end: text-index builds the inverted
    index, search probes it (and the scan path agrees), append rolls a
    second batch in, and stream-text-index drains drops into a store
    the same search command serves."""
    docs = [
        (1, "spark query engine spark spark"),
        (2, "pasta recipe basil spark"),
        (3, "query planner beats hand tuning"),
    ]
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs")
    )
    ix = str(tmp_path / "ix")
    assert cli.main([
        "text-index", "--docs", str(tmp_path / "docs"), "--out", ix,
        "--n-buckets", "8",
    ]) == 0
    assert "n_docs=3" in capsys.readouterr().out

    assert cli.main([
        "search", "--index", ix, "--terms", "spark,basil", "--k", "3",
        "--out", str(tmp_path / "hits"),
    ]) == 0
    out = capsys.readouterr().out
    # doc 2 matches BOTH terms (rare 'basil' idf dominates) -> rank 1
    assert "#1: doc_id=2" in out and "#2: doc_id=1" in out
    hit_ids = [r.doc_id for r in spark.read.parquet(
        str(tmp_path / "hits")).orderBy("rank").collect()]

    assert cli.main([
        "search", "--docs", str(tmp_path / "docs"),
        "--terms", "spark,basil", "--k", "3",
    ]) == 0
    scan_out = capsys.readouterr().out
    assert "#1: doc_id=2" in scan_out

    # append a batch, the new doc becomes retrievable
    spark.createDataFrame(
        [(4, "basil basil pesto")], ["doc_id", "text"]
    ).write.parquet(str(tmp_path / "docs2"))
    assert cli.main([
        "text-index", "--docs", str(tmp_path / "docs2"), "--out", ix,
        "--n-buckets", "8", "--append",
    ]) == 0
    assert "n_docs=4" in capsys.readouterr().out
    assert cli.main([
        "search", "--index", ix, "--terms", "basil", "--k", "5",
    ]) == 0
    assert "doc_id=4" in capsys.readouterr().out

    # streaming store: drain one drop, serve with the same search cmd
    import os
    import shutil

    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    spark.createDataFrame(docs, ["doc_id", "text"]).coalesce(1).write.parquet(
        f"{incoming}/d0"
    )
    for f in os.listdir(f"{incoming}/d0"):
        if f.endswith(".parquet"):
            os.rename(f"{incoming}/d0/{f}", f"{incoming}/b0_{f}")
    shutil.rmtree(f"{incoming}/d0")
    store = str(tmp_path / "store")
    assert cli.main([
        "stream-text-index", "--docs-path", incoming, "--store", store,
        "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "8",
    ]) == 0
    assert "drained" in capsys.readouterr().out
    assert cli.main([
        "search", "--index", store, "--terms", "spark,basil", "--k", "3",
    ]) == 0
    stream_out = capsys.readouterr().out
    for rank, did in enumerate(hit_ids, 1):
        assert f"#{rank}: doc_id={did}" in stream_out


def test_search_phrase_cli(spark, tmp_path, capsys):
    """r15 phrase surface: text-index --positions builds the positional
    layout, search --phrase serves exact-phrase counts from it, and the
    guard rails err clearly (--phrase without --index; phrase against a
    plain index)."""
    docs = [
        (1, "big data beats big data"),
        (2, "data big"),
        (3, "big data"),
    ]
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs")
    )
    pix = str(tmp_path / "pix")
    assert cli.main([
        "text-index", "--docs", str(tmp_path / "docs"), "--out", pix,
        "--n-buckets", "8", "--positions",
    ]) == 0
    assert "positions=True" in capsys.readouterr().out

    assert cli.main([
        "search", "--index", pix, "--terms", "big,data", "--phrase", "--k", "5",
    ]) == 0
    out = capsys.readouterr().out
    assert "#1: doc_id=1 n_phrase=2" in out
    assert "doc_id=2" not in out  # reversed order is not the phrase

    with pytest.raises(SystemExit, match="--phrase needs --index"):
        cli.main([
            "search", "--docs", str(tmp_path / "docs"),
            "--terms", "big,data", "--phrase",
        ])
    plain = str(tmp_path / "plain")
    assert cli.main([
        "text-index", "--docs", str(tmp_path / "docs"), "--out", plain,
        "--n-buckets", "8",
    ]) == 0
    capsys.readouterr()
    with pytest.raises(ValueError, match="without positions"):
        cli.main([
            "search", "--index", plain, "--terms", "big,data", "--phrase",
        ])


def _drop(incoming, name, columns):
    """Land ``columns`` as one parquet file directly in ``incoming``, the
    directory a file-stream subcommand tails."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(incoming, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(incoming, f"{name}.parquet"))
    return str(incoming)


def _assert_matches_scan(spark, hits_path, docs, terms):
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    hits = spark.read.parquet(hits_path).orderBy("rank").collect()
    scan = ret.bm25_topk(
        spark.createDataFrame(docs, "doc_id bigint, text string"), terms, k=10
    ).collect()
    assert [(r.rank, r.doc_id, r.n_match, r.dl) for r in hits] == [
        (r.rank, r.doc_id, r.n_match, r.dl) for r in scan
    ]
    for a, b in zip(hits, scan):
        assert abs(a.score - b.score) < 1e-6


def test_text_index_extended_by_stream_text_index(spark, tmp_path, capsys):
    """text-index builds the store's consolidated partition and
    stream-text-index adds micro-batches to the SAME store: search over
    it equals the scan scorer over every doc, built and streamed."""
    built = [(1, "spark query engine spark spark"), (2, "pasta recipe basil spark")]
    streamed = [(3, "basil basil basil pesto"), (4, "query planner beats hand tuning")]
    spark.createDataFrame(built, "doc_id bigint, text string").write.parquet(
        str(tmp_path / "docs")
    )
    ix = str(tmp_path / "ix")
    assert cli.main([
        "text-index", "--docs", str(tmp_path / "docs"), "--out", ix,
        "--n-buckets", "8",
    ]) == 0
    incoming = _drop(tmp_path / "in", "b0", {
        "doc_id": [d for d, _ in streamed], "text": [t for _, t in streamed],
    })
    assert cli.main([
        "stream-text-index", "--docs-path", incoming, "--store", ix,
        "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "8",
    ]) == 0
    terms = ["spark", "basil", "query"]
    assert cli.main([
        "search", "--index", ix, "--terms", ",".join(terms), "--k", "10",
        "--out", str(tmp_path / "hits"),
    ]) == 0
    _assert_matches_scan(spark, str(tmp_path / "hits"), built + streamed, terms)


def test_compact_index_folds_both_text_index_roots_and_search_is_unchanged(
    spark, tmp_path, capsys
):
    """One store: text-index, then stream-text-index, then compact-index of
    its stats root and of its postings root (term_bucket kept, every batch
    folded). search prints the same hits before and after the folds."""
    import os

    built = [(1, "spark query engine spark spark"), (2, "pasta recipe basil spark")]
    streamed = [(3, "basil basil basil pesto"), (4, "query planner beats hand tuning")]
    spark.createDataFrame(built, "doc_id bigint, text string").write.parquet(
        str(tmp_path / "docs")
    )
    ix = str(tmp_path / "ix")
    assert cli.main([
        "text-index", "--docs", str(tmp_path / "docs"), "--out", ix, "--n-buckets", "8",
    ]) == 0
    incoming = _drop(tmp_path / "in", "b0", {
        "doc_id": [d for d, _ in streamed], "text": [t for _, t in streamed],
    })
    assert cli.main([
        "stream-text-index", "--docs-path", incoming, "--store", ix,
        "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "8",
    ]) == 0
    search = ["search", "--index", ix, "--terms", "spark,basil,query", "--k", "10"]
    capsys.readouterr()
    assert cli.main(search) == 0
    before = capsys.readouterr().out
    assert before.count("  #") == 4
    for args in (
        [f"{ix}/stats"],
        [f"{ix}/postings", "--sub-partition-col", "term_bucket"],
    ):
        assert cli.main(["compact-index", *args, "--keep-latest", "0"]) == 0
        assert [e for e in os.listdir(args[0]) if not e.startswith(("_", "."))] == [
            "ingest_batch=-1"
        ]
    capsys.readouterr()
    assert cli.main(search) == 0
    assert capsys.readouterr().out == before


def test_stream_text_index_store_extended_by_text_index_append(spark, tmp_path, capsys):
    """A stream-built store takes a text-index --append as one more slice:
    the summary line counts every doc, streamed and appended, and search
    finds the appended doc with the scan scorer's ranking."""
    streamed = [(1, "spark query engine spark spark"), (2, "pasta recipe basil spark"),
                (3, "query planner beats hand tuning")]
    appended = [(4, "basil basil pesto")]
    incoming = _drop(tmp_path / "in", "b0", {
        "doc_id": [d for d, _ in streamed], "text": [t for _, t in streamed],
    })
    store = str(tmp_path / "store")
    assert cli.main([
        "stream-text-index", "--docs-path", incoming, "--store", store,
        "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "8",
    ]) == 0
    spark.createDataFrame(appended, "doc_id bigint, text string").write.parquet(
        str(tmp_path / "docs2")
    )
    capsys.readouterr()
    assert cli.main([
        "text-index", "--docs", str(tmp_path / "docs2"), "--out", store,
        "--n-buckets", "8", "--append",
    ]) == 0
    sum_dl = sum(len(t.split()) for _, t in streamed + appended)
    assert f"n_docs=4, sum_dl={sum_dl}," in capsys.readouterr().out
    assert cli.main([
        "search", "--index", store, "--terms", "basil,spark", "--k", "10",
        "--out", str(tmp_path / "hits"),
    ]) == 0
    assert "doc_id=4" in capsys.readouterr().out
    _assert_matches_scan(spark, str(tmp_path / "hits"), streamed + appended, ["basil", "spark"])


def test_cli_bootstrap_then_dims(spark, tmp_path, capsys):
    """bootstrap lands historical JSON arrays in bronze (an exact replay
    collapses on its event id) and dims builds the dimension tables from
    that bronze."""
    orders = [
        {"order_id": "O1", "customer_id": "C1", "created_at": "2024-03-01T10:00:00Z",
         "vendor": "vendor_a", "total": 10},
        {"order_id": "O2", "customer_id": "C2", "created_at": "2024-03-02T10:00:00Z",
         "vendor": "vendor_b", "total": 20},
    ]
    payments = [{"payment_id": "P1", "order_id": "O1", "amount": 10,
                 "paid_at": "2024-03-01T11:00:00Z"}]
    o, p = tmp_path / "orders.json", tmp_path / "payments.json"
    o.write_text(json.dumps(orders + orders[1:]))  # O2 replayed
    p.write_text(json.dumps(payments))
    bronze = str(tmp_path / "bronze")
    assert cli.main([
        "bootstrap", f"historical_order={o}", f"historical_payment={p}",
        "--bronze", bronze,
    ]) == 0
    out = capsys.readouterr().out
    assert "bootstrapped historical_order: 3 events" in out
    assert "bootstrapped historical_payment: 1 events" in out
    assert spark.read.parquet(bronze).count() == 3

    wh = str(tmp_path / "wh")
    assert cli.main(["dims", "--bronze", bronze, "--warehouse", wh]) == 0
    assert "dims written" in capsys.readouterr().out
    assert spark.read.parquet(f"{wh}/dim_date.parquet").count() == 1461
    assert spark.read.parquet(f"{wh}/dim_product.parquet").count() == 1
    assert sorted(
        r.customer_id for r in spark.read.parquet(f"{wh}/dim_customer.parquet").collect()
    ) == ["C1", "C2"]


def test_cli_stream_clean_corpus(spark, tmp_path, capsys):
    """stream-clean-corpus drains document drops into a cleaned corpus:
    an exact and a near duplicate of doc 1 drop, each with a quarantine
    row."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    incoming = _drop(tmp_path / "in", "b0", {
        "doc_id": [1, 2, 3, 4],
        "text": [base, base, "entirely unrelated content about pasta", base + " tonight"],
    })
    store = str(tmp_path / "store")
    assert cli.main([
        "stream-clean-corpus", "--docs", incoming, "--store", store,
        "--checkpoint", str(tmp_path / "ckpt"), "--quarantine",
    ]) == 0
    assert f"corpus maintained at {store}/corpus" in capsys.readouterr().out
    assert sorted(r.doc_id for r in spark.read.parquet(f"{store}/corpus").collect()) == [1, 3]
    assert spark.read.parquet(f"{store}/quarantine").count() == 2
    assert spark.read.parquet(f"{store}/index/bands").select("doc_id").distinct().count() == 2


def test_cli_stream_dedup_embeddings(spark, tmp_path, capsys):
    """stream-dedup-embeddings drains vector drops into a deduplicated
    store: a scaled copy of vector 1 (cosine 1) drops, keep-first."""
    import pyarrow as pa

    a, b = [1.0, 0.2, -0.5, 3.0], [-2.0, 1.0, 0.7, 0.1]
    incoming = _drop(tmp_path / "in", "b0", {
        "vec_id": pa.array([1, 2, 3], pa.int64()),
        "embedding": pa.array([a, [2 * x for x in a], b], pa.list_(pa.float32())),
    })
    store = str(tmp_path / "store")
    assert cli.main([
        "stream-dedup-embeddings", "--vectors", incoming, "--store", store,
        "--checkpoint", str(tmp_path / "ckpt"),
    ]) == 0
    assert f"vector store maintained at {store}/vectors" in capsys.readouterr().out
    assert sorted(r.vec_id for r in spark.read.parquet(f"{store}/vectors").collect()) == [1, 3]
