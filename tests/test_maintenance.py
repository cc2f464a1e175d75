"""Tests: parquet small-files compaction (storage maintenance op)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.sources.readers import compact_parquet


def _parquet_files(path):
    import glob
    import os

    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]


def test_compact_parquet_collapses_small_files(spark, tmp_path):
    path = str(tmp_path / "many")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    assert len(_parquet_files(path)) == 40

    stats = compact_parquet(spark, path, target_file_mb=128)
    assert stats["files_before"] >= 40
    assert stats["files_after"] == 1  # 10k rows ≪ 128 MB → one file

    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # no leftover temp/old directories
    import os

    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")


def test_compact_parquet_recovers_from_stale_old_dir(spark, tmp_path):
    import os

    path = str(tmp_path / "stale")
    spark.range(500).repartition(4).write.parquet(path)
    os.makedirs(path + "._compact_old/leftover")  # a prior run died mid-swap
    stats = compact_parquet(spark, path, target_file_mb=128)
    assert stats["files_after"] == 1
    assert spark.read.parquet(path).count() == 500
    assert not os.path.exists(path + "._compact_old")


def test_cli_compact_subcommand(spark, tmp_path, capsys):
    from commercepulse_data_pipeline_spark.cli import main

    path = str(tmp_path / "cli_many")
    spark.range(1_000).repartition(8).write.parquet(path)
    assert main(["compact", path]) == 0
    assert "8 files → 1" in capsys.readouterr().out
    assert spark.read.parquet(path).count() == 1_000


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.range(2_000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )
    df.repartition(12).write.partitionBy("p").parquet(path)
    n_before = len(_parquet_files(path))
    assert n_before >= 12

    compact_parquet(spark, path, target_file_mb=128, partition_col="p")
    back = spark.read.parquet(path)
    assert back.count() == 2_000
    # hive layout survives → partition pruning still works
    plan = (
        back.where(F.col("p") == "1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert back.where(F.col("p") == "1").count() == df.where(F.col("p") == "1").count()
    assert "PartitionFilters: [" in plan and len(_parquet_files(path)) < n_before


def test_compact_parquet_salts_big_hive_partition(spark, tmp_path):
    """ADVICE r6: a multi-GB hive partition must NOT collapse to one file
    written by one straggler task — the salt width per partition is derived
    from that partition's input bytes, so a hot partition gets multiple
    write tasks/files while pruning survives."""
    import os

    path = str(tmp_path / "skewed")
    # hot partition: ~3 MB of incompressible-ish sha2 text; cold: tiny
    payload = F.concat(
        *[
            F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(i))), 512)
            for i in range(4)
        ]
    )
    hot = spark.range(12_000).select(
        F.col("id"), F.lit("hot").alias("p"), payload.alias("t")
    )
    cold = spark.range(50).select(
        F.col("id"), F.lit("cold").alias("p"), payload.alias("t")
    )
    hot.unionAll(cold).repartition(8).write.partitionBy("p").parquet(path)
    hot_bytes = sum(
        os.path.getsize(f) for f in _parquet_files(os.path.join(path, "p=hot"))
    )
    assert hot_bytes > 2 * 1024 * 1024  # precondition: hot really is multi-MB

    compact_parquet(spark, path, target_file_mb=1, partition_col="p")
    hot_files = _parquet_files(os.path.join(path, "p=hot"))
    cold_files = _parquet_files(os.path.join(path, "p=cold"))
    assert len(hot_files) >= 2, "hot partition compacted to a single giant file"
    assert len(cold_files) == 1, "cold partition should stay one small file"
    back = spark.read.parquet(path)
    assert back.count() == 12_050
    plan = back.where(F.col("p") == "cold")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_recover_swap_adopts_stranded_dataset(spark, tmp_path):
    """ADVICE r6: a crash between commit.swap's two renames strands the
    only copy at <path>._purge_old; the next rewrite op adopts it back instead
    of failing at spark.read."""
    import os

    from commercepulse_data_pipeline_spark.sources.readers import purge_keys

    path = str(tmp_path / "stranded")
    spark.range(30).selectExpr("id AS user_id").write.parquet(path)
    os.rename(path, path + "._purge_old")  # crash window: path gone
    stats = purge_keys(spark, path, "user_id", [1])
    assert stats == {"rows_before": 30, "rows_removed": 1}
    assert spark.read.parquet(path).count() == 29


def test_purge_keys_rejects_uncastable_keys(spark, tmp_path):
    """ADVICE r6: a deletion key that casts to NULL would silently match
    nothing (rows_removed=0 for a compliance request) — must raise, and
    must leave the dataset untouched."""
    import pytest as _pytest

    from commercepulse_data_pipeline_spark.sources.readers import purge_keys

    path = str(tmp_path / "typed")
    spark.range(20).selectExpr("id AS user_id").write.parquet(path)
    with _pytest.raises(ValueError, match="abc"):
        purge_keys(spark, path, "user_id", ["5", "abc"])
    assert spark.read.parquet(path).count() == 20  # nothing was purged

    bad_df = spark.createDataFrame([("7",), ("not-a-key",)], ["user_id"])
    with _pytest.raises(ValueError, match="not-a-key"):
        purge_keys(spark, path, "user_id", bad_df)
    assert spark.read.parquet(path).count() == 20


def test_purge_keys_removes_only_targets(spark, tmp_path):
    from commercepulse_data_pipeline_spark.sources.readers import purge_keys

    path = str(tmp_path / "erase")
    spark.range(100).selectExpr("id AS user_id", "id * 2 AS v").write.parquet(path)
    stats = purge_keys(spark, path, "user_id", [3, 7, 7, 999])
    assert stats == {"rows_before": 100, "rows_removed": 2}
    back = spark.read.parquet(path)
    assert back.count() == 98
    assert back.where("user_id IN (3, 7)").count() == 0
    assert back.where("user_id = 4").count() == 1
    import os

    assert not os.path.exists(path + "._purge_tmp")
    assert not os.path.exists(path + "._purge_old")


def test_purge_keys_dataframe_request_and_partitions(spark, tmp_path):
    from pyspark.sql import functions as F2
    from commercepulse_data_pipeline_spark.sources.readers import purge_keys

    path = str(tmp_path / "erase_part")
    spark.range(60).select(
        F2.col("id").alias("user_id"), (F2.col("id") % 3).cast("string").alias("p")
    ).write.partitionBy("p").parquet(path)
    req = spark.range(10).select(F2.col("id").alias("user_id"))
    stats = purge_keys(spark, path, "user_id", req, partition_col="p")
    assert stats["rows_removed"] == 10
    back = spark.read.parquet(path)
    assert back.count() == 50 and back.where("user_id < 10").count() == 0
    # hive layout survives
    plan = back.where(F2.col("p") == "1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_cli_purge_subcommand(spark, tmp_path, capsys):
    from commercepulse_data_pipeline_spark.cli import main

    path = str(tmp_path / "cli_erase")
    spark.range(20).selectExpr("id AS user_id").write.parquet(path)
    assert main(["purge", path, "user_id", "5", "11"]) == 0
    assert "removed 2 of 20" in capsys.readouterr().out
    assert spark.read.parquet(path).where("user_id IN (5, 11)").count() == 0


# ---------------------------------------------------------------------------
# Streaming index retention/compaction (VERDICT r6 item 6): the append-mode
# MinHash/LSH index dirs grow one partition per micro-batch; folding them
# must keep the store queryable and dedup-correct MID-STREAM.
# ---------------------------------------------------------------------------

_BASE = "the quick brown fox jumps over the lazy dog again and again today"


def _corpus_store(spark, tmp_path, n_batches=4):
    from commercepulse_data_pipeline_spark.streaming.corpus import clean_corpus_batch

    store = str(tmp_path / "store")
    batches = [[(1, _BASE), (2, "unique first-batch content here")]] + [
        [(10 * b, f"totally unrelated content number {b} with words")]
        for b in range(1, n_batches)
    ]
    for bid, rows in enumerate(batches):
        clean_corpus_batch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            bid, store,
        )
    return store


@pytest.mark.slow
def test_compact_streaming_index_corpus_stays_live(spark, tmp_path):
    import os

    from commercepulse_data_pipeline_spark.operators import dedup as dd
    from commercepulse_data_pipeline_spark.sources.readers import (
        compact_streaming_index,
    )
    from commercepulse_data_pipeline_spark.streaming.corpus import clean_corpus_batch

    store = _corpus_store(spark, tmp_path)
    bands_root = f"{store}/index/bands"
    rows_before = spark.read.parquet(bands_root).count()
    stats = compact_streaming_index(spark, bands_root, keep_latest=1)
    assert stats["folded"] == 3
    parts = {e.name for e in os.scandir(bands_root) if e.is_dir()}
    assert parts == {"ingest_batch=-1", "ingest_batch=3"}
    assert spark.read.parquet(bands_root).count() == rows_before  # nothing lost

    # the store is still a live index: a probe near-dup of a FOLDED
    # batch-0 doc is found by the incremental pair query ...
    probe = spark.createDataFrame(
        [(100, _BASE + " tonight")], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b) for r in
             dd.minhash_pairs_incremental(probe, spark, f"{store}/index").collect()}
    assert (1, 100) in pairs
    # ... and the STREAM keeps deduping against folded history: the next
    # micro-batch's near-dup of doc 1 is dropped
    clean_corpus_batch(
        spark.createDataFrame([(50, _BASE + " tonight")], "doc_id long, text string"),
        4, store,
    )
    kept = {r.doc_id for r in
            spark.read.parquet(f"{store}/corpus").select("doc_id").collect()}
    assert 50 not in kept and 1 in kept

    # idempotent: a second compaction folds the new tail, still lossless
    compact_streaming_index(spark, bands_root, keep_latest=1)
    assert spark.read.parquet(bands_root).count() > 0
    pairs2 = {(r.id_a, r.id_b) for r in
              dd.minhash_pairs_incremental(probe, spark, f"{store}/index").collect()}
    assert (1, 100) in pairs2


def test_compact_streaming_index_embeddings_sub_partitions(spark, tmp_path):
    import os

    from commercepulse_data_pipeline_spark.operators import similarity as sim
    from commercepulse_data_pipeline_spark.sources.readers import (
        compact_streaming_index,
    )
    from commercepulse_data_pipeline_spark.streaming.embeddings import (
        dedup_embeddings_batch,
    )

    A = [1.0, 0.2, -0.5, 3.0]
    B = [-2.0, 1.0, 0.7, 0.1]
    C = [0.3, -4.0, 1.5, 0.9]
    store = str(tmp_path / "estore")
    for bid, rows in enumerate([[(1, A)], [(2, B)], [(3, C)]]):
        dedup_embeddings_batch(
            spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
            bid, store, tau=0.99, n_planes=4,
        )
    lists_root = f"{store}/index/lists"
    rows_before = spark.read.parquet(lists_root).count()
    stats = compact_streaming_index(
        spark, lists_root, keep_latest=1, sub_partition_col="lsh_bucket"
    )
    assert stats["folded"] == 2
    assert spark.read.parquet(lists_root).count() == rows_before
    # inner lsh_bucket layout survived the fold
    cons = os.path.join(lists_root, "ingest_batch=-1")
    assert any(e.name.startswith("lsh_bucket=") for e in os.scandir(cons))

    # the consolidated store still serves probes for FOLDED vectors ...
    got = sim.lsh_topk_indexed(spark, f"{store}/index", A, k=1, probes=1).collect()
    assert got and got[0].vec_id == 1
    # ... and the stream still dedups against them
    dedup_embeddings_batch(
        spark.createDataFrame(
            [(10, [v * 1.001 for v in A])], "vec_id long, embedding array<float>"
        ),
        3, store, tau=0.99, n_planes=4,
    )
    kept = {r.vec_id for r in
            spark.read.parquet(f"{store}/vectors").select("vec_id").collect()}
    assert 10 not in kept and kept == {1, 2, 3}


# the re-fold's store-changing steps: the intent record's rename; the
# consolidated partition renamed aside and its tmp in; the two folded
# partitions renamed aside; the three set-aside dirs deleted; the
# record removed
_REFOLD_POINTS = 9


def _crash_copies(store, root, base, fold):
    """Run ``fold()`` once, uninterrupted, copying the directory ``store``
    to ``<base>-point<k>`` just before each rename, rmtree and file
    removal the fold makes under ``root``: copy k is exactly what a crash
    at point k leaves on disk."""
    import os
    import shutil

    copies: list[str] = []

    def snapshot(path):
        if root in str(path) and os.path.exists(path):
            copies.append(f"{base}-point{len(copies) + 1}")
            shutil.copytree(store, copies[-1])

    with pytest.MonkeyPatch.context() as mp:
        for module, name in ((os, "rename"), (os, "replace"), (os, "remove"), (shutil, "rmtree")):
            def patched(path, *a, _real=getattr(module, name), **kw):
                snapshot(path)
                return _real(path, *a, **kw)

            mp.setattr(module, name, patched)
        fold()
    return copies


@pytest.fixture(scope="module")
def refold(spark, tmp_path_factory):
    """A synthetic ``fp long, n long`` index store — a consolidated
    partition, two batches to fold and one kept — re-folded once with a
    copy at every crash point."""
    from commercepulse_data_pipeline_spark.sources import commit
    from commercepulse_data_pipeline_spark.sources.readers import compact_streaming_index
    from commercepulse_data_pipeline_spark.streaming import batches

    base = tmp_path_factory.mktemp("refold")
    root = str(base / "idx")
    for batch_id, fps in (
        (commit.CONSOLIDATED_BATCH, range(5)),
        (0, range(3)),
        (1, range(3, 7)),
        (2, (0, 7)),
    ):
        rows = [(fp, batch_id + 2) for fp in fps]
        batches.write(spark.createDataFrame(rows, "fp long, n long"), root, batch_id)
    before = _summed_counts(spark, root)
    copies = _crash_copies(
        root, root, base / "idx", lambda: compact_streaming_index(spark, root, keep_latest=1)
    )
    return {"root": root, "copies": copies, "before": before, "after": _store_rows(spark, root)}


def _summed_counts(spark, root):
    from commercepulse_data_pipeline_spark.sources.readers import fold_consistent_read

    df = fold_consistent_read(spark, root).groupBy("fp").agg(F.sum("n").alias("n"))
    return sorted(map(tuple, df.collect()))


def _store_rows(spark, root):
    import os

    df = spark.read.parquet(root)
    rows = df.select(*sorted(df.columns)).collect()
    return sorted(os.listdir(root)), sorted(map(tuple, rows))


def test_refold_uninterrupted_keeps_counts(spark, refold):
    assert len(refold["copies"]) == _REFOLD_POINTS
    assert _summed_counts(spark, refold["root"]) == refold["before"]
    names, _ = refold["after"]
    assert names == ["ingest_batch=-1", "ingest_batch=2"]


@pytest.mark.parametrize("point", range(1, _REFOLD_POINTS + 1))
def test_refold_crash_at_every_point_reads_then_recovers(spark, refold, tmp_path, point):
    """At each point of the re-fold, the store read without recovery
    through ``fold_consistent_read`` sums to the pre-fold counts (no
    partition missed, none counted twice), and the next
    ``compact_streaming_index`` leaves the store the uninterrupted fold
    left."""
    import shutil

    from commercepulse_data_pipeline_spark.sources.readers import compact_streaming_index

    assert point <= len(refold["copies"]), "the fold made fewer store changes"
    root = str(tmp_path / "idx")
    shutil.copytree(refold["copies"][point - 1], root)
    assert _summed_counts(spark, root) == refold["before"]
    compact_streaming_index(spark, root, keep_latest=1)
    assert _store_rows(spark, root) == refold["after"]


_TEXT_DOCS = [
    (1, "spark query engine spark spark"),
    (2, "pasta recipe with basil and spark"),
    (3, "basil basil basil pesto"),
    (4, "query planner beats hand tuning"),
    (5, "spark basil query"),
    (6, "hand made pasta"),
]
_TEXT_TERMS = ["spark", "basil", "query", "pasta"]
# each root of the text index, with the inner layout its fold keeps
_TEXT_ROOTS = {"stats": None, "postings": "term_bucket"}


def _text_hits(spark, ix):
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    return [tuple(r) for r in ret.bm25_topk_indexed(spark, ix, _TEXT_TERMS, k=10).collect()]


@pytest.fixture(scope="module")
def text_refold(spark, tmp_path_factory):
    """A text index built by ``write_text_index`` and streamed into by
    three ``text_index_batch`` batches, its ``stats`` and then its
    ``postings`` root re-folded with a copy of the whole index at every
    crash point of each fold."""
    from commercepulse_data_pipeline_spark.operators import retrieval as ret
    from commercepulse_data_pipeline_spark.sources.readers import compact_streaming_index
    from commercepulse_data_pipeline_spark.streaming.retrieval import text_index_batch

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = tmp_path_factory.mktemp("text_refold")
    ix = str(base / "ix")
    ret.write_text_index(docs(_TEXT_DOCS[:2]), ix, n_buckets=4)
    for batch_id, rows in enumerate((_TEXT_DOCS[2:4], _TEXT_DOCS[4:5], _TEXT_DOCS[5:])):
        text_index_batch(docs(rows), batch_id, ix, n_buckets=4)
    out = {"folds": {}, "ix": ix, "index_stats": ret._index_stats(spark, ix), "hits": _text_hits(spark, ix)}
    for name, sub in _TEXT_ROOTS.items():
        root = f"{ix}/{name}"

        def fold(root=root, sub=sub):
            compact_streaming_index(spark, root, keep_latest=1, sub_partition_col=sub)

        out["folds"][name] = {
            "copies": _crash_copies(ix, root, base / name, fold),
            "after": _store_rows(spark, root),
        }
    return out


def test_text_index_refold_uninterrupted_serves_the_same_hits(spark, text_refold):
    from commercepulse_data_pipeline_spark.operators import retrieval as ret

    ix = text_refold["ix"]
    assert text_refold["index_stats"]["n_docs"] == len(_TEXT_DOCS)
    assert ret._index_stats(spark, ix) == text_refold["index_stats"]
    assert _text_hits(spark, ix) == text_refold["hits"]
    for name in _TEXT_ROOTS:
        assert len(text_refold["folds"][name]["copies"]) == _REFOLD_POINTS
        names, _ = text_refold["folds"][name]["after"]
        assert [n for n in names if n.startswith("ingest_batch=")] == [
            "ingest_batch=-1", "ingest_batch=2"
        ]


@pytest.mark.parametrize("point", range(1, _REFOLD_POINTS + 1))
@pytest.mark.parametrize("name", sorted(_TEXT_ROOTS))
def test_text_index_refold_crash_at_every_point_serves_then_recovers(
    spark, text_refold, tmp_path, name, point
):
    """At each crash point of the ``stats`` fold and of the ``postings``
    fold, the index read without recovery has the pre-fold corpus stats
    and BM25 hits, and the next ``compact_streaming_index`` of the root
    leaves it as the uninterrupted fold left it."""
    import shutil

    from commercepulse_data_pipeline_spark.operators import retrieval as ret
    from commercepulse_data_pipeline_spark.sources.readers import compact_streaming_index

    ix = str(tmp_path / "ix")
    shutil.copytree(text_refold["folds"][name]["copies"][point - 1], ix)
    assert ret._index_stats(spark, ix) == text_refold["index_stats"]
    assert _text_hits(spark, ix) == text_refold["hits"]
    compact_streaming_index(
        spark, f"{ix}/{name}", keep_latest=1, sub_partition_col=_TEXT_ROOTS[name]
    )
    assert _store_rows(spark, f"{ix}/{name}") == text_refold["folds"][name]["after"]


def test_lsh_index_refold_crash_at_every_point_serves_the_same_rows(spark, tmp_path):
    """A ``stream-dedup-embeddings`` store's ``index/lists``, re-folded
    with ``lsh_bucket`` kept: every crash point's copy, read without
    recovery, answers ``lsh_topk_indexed`` with the pre-fold rows."""
    from commercepulse_data_pipeline_spark.operators import similarity as sim
    from commercepulse_data_pipeline_spark.sources.readers import compact_streaming_index
    from commercepulse_data_pipeline_spark.streaming.embeddings import dedup_embeddings_batch

    vectors = [
        [1.0, 0.2, -0.5, 3.0], [-2.0, 1.0, 0.7, 0.1], [0.3, -4.0, 1.5, 0.9],
        [0.9, 0.3, -0.4, 2.5], [1.2, 0.1, -0.6, 2.8],
    ]
    store = str(tmp_path / "estore")
    for batch_id, vec in enumerate(vectors):
        dedup_embeddings_batch(
            spark.createDataFrame([(batch_id + 1, vec)], "vec_id long, embedding array<float>"),
            batch_id, store, tau=0.999, n_planes=2,
        )
    index, lists = f"{store}/index", f"{store}/index/lists"
    compact_streaming_index(spark, lists, keep_latest=3, sub_partition_col="lsh_bucket")

    def query(path):
        got = sim.lsh_topk_indexed(spark, path, vectors[0], k=10, probes=3).collect()
        return [tuple(r) for r in got]

    before = query(index)
    # the consolidated partition's vec 1, the two batches the re-fold
    # folds and the one it keeps (vec 2 sits outside the probed buckets)
    assert {r[0] for r in before} == {1, 3, 4, 5}

    def fold():
        compact_streaming_index(spark, lists, keep_latest=1, sub_partition_col="lsh_bucket")

    copies = _crash_copies(index, lists, tmp_path / "lsh", fold)
    assert len(copies) == 9
    assert [query(c) for c in copies] == [before] * len(copies)


@pytest.mark.slow
def test_cli_compact_index_subcommand(spark, tmp_path, capsys):
    from commercepulse_data_pipeline_spark.cli import main

    store = _corpus_store(spark, tmp_path)
    assert main(["compact-index", f"{store}/index/bands", "--keep-latest", "1"]) == 0
    assert "folded 3 batch" in capsys.readouterr().out
    assert spark.read.parquet(f"{store}/index/bands").count() > 0
