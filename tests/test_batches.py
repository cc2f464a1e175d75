"""The micro-batch protocol (streaming/batches.py): what ``write`` and
``prior`` do to a store across a first batch, a replay and a failed
read, plus a guard that keeps every ``foreachBatch`` call and every
batch-partition name in the one module that owns it."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from commercepulse_data_pipeline_spark.sources import commit, readers
from commercepulse_data_pipeline_spark.streaming import batches

PACKAGE = pathlib.Path(batches.__file__).resolve().parents[1]


def test_prior_excludes_own_batch_and_fails_loudly(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "store")

    def rows(*ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def prior_rows(batch_id):
        return sorted(
            (r.doc_id, r.ingest_batch) for r in batches.prior(spark, root, batch_id).collect()
        )

    # no store yet: the first batch has nothing before it
    assert batches.prior(spark, root, 0) is None

    batches.write(rows(1, 2), root, 0)
    batches.write(rows(9), root, 1)
    batches.write(rows(3), root, 1)  # a replay replaces the first attempt
    batches.write(rows(4), root, commit.CONSOLIDATED_BATCH)
    assert sorted(os.listdir(root)) == ["ingest_batch=-1", "ingest_batch=0", "ingest_batch=1"]

    # batch N's own partition is left out; other batches and the
    # consolidated partition stay
    assert prior_rows(1) == [(1, 0), (2, 0), (4, -1)]
    assert prior_rows(0) == [(3, 1), (4, -1)]
    assert prior_rows(2) == [(1, 0), (2, 0), (3, 1), (4, -1)]

    # a read error on a store that exists is not "first batch"
    for error in (ValueError("transient listing failure"), FileNotFoundError(root)):

        def failing_read(_spark, _root, error=error):
            raise error

        monkeypatch.setattr(readers, "fold_consistent_read", failing_read)
        with pytest.raises(type(error)):
            batches.prior(spark, root, 2)


def test_prior_is_none_until_the_listing_holds_a_partition(spark, tmp_path):
    """No store yet is the listing's answer, asked before any read: a
    missing root, an empty one and one holding only markers (a
    ``_SUCCESS`` and an intent record naming no partition on disk) all
    list nothing, and ``prior`` returns None for each."""
    import json

    markers = tmp_path / "markers"
    markers.mkdir()
    (markers / "_SUCCESS").write_text("")
    (markers / commit.INTENT).write_text(json.dumps({"tables": [
        ["ingest_batch=-1", ".ingest_batch=-1.tmp", ".ingest_batch=-1.old"],
        ["ingest_batch=0", None, ".ingest_batch=0.old"],
    ]}))
    (tmp_path / "empty").mkdir()
    for root in (tmp_path / "missing", tmp_path / "empty", markers):
        assert readers.store_partitions(spark, str(root)) == {}
        assert batches.prior(spark, str(root), 0) is None


def test_prior_reads_a_mid_fold_store_the_same_through_any_local_uri(spark, tmp_path, monkeypatch):
    """A fold stopped with its consolidated partition renamed aside (the
    intent record present, the new partition still in its tmp) reads the
    same rows through ``file:/p``, ``file:///p`` and ``/p``: the pre-fold
    docs, each once. Other schemes are refused, not read plainly."""
    root = str(tmp_path / "store")
    for batch_id, ids in ((commit.CONSOLIDATED_BATCH, (1, 2)), (0, (3,)), (1, (4,)), (2, (5,))):
        batches.write(spark.createDataFrame([(i,) for i in ids], "doc_id long"), root, batch_id)

    renames = []
    real_rename = os.rename

    def crash_at_third_rename(src, dst):
        renames.append(src)
        if len(renames) == 3:
            raise OSError("crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_at_third_rename)
    with pytest.raises(OSError, match="crash"):
        readers.compact_streaming_index(spark, root, keep_latest=1)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(root, commit.INTENT))
    assert not os.path.exists(os.path.join(root, "ingest_batch=-1"))

    def doc_ids(uri):
        return sorted(r.doc_id for r in batches.prior(spark, uri, 9).collect())

    assert doc_ids(root) == [1, 2, 3, 4, 5]
    assert doc_ids(f"file:{root}") == [1, 2, 3, 4, 5]
    assert doc_ids(f"file://{root}") == [1, 2, 3, 4, 5]
    for uri in ("s3a://bucket/store", "hdfs://nn/store"):
        for read in (readers.store_partitions, readers.fold_consistent_read):
            with pytest.raises(ValueError, match="local-filesystem-only"):
                read(spark, uri)
        with pytest.raises(ValueError, match="local-filesystem-only"):
            batches.prior(spark, uri, 0)


def _code_strings(tree: ast.AST):
    """String constants in ``tree`` that are not docstrings."""
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docstrings.add(id(first.value))
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docstrings:
                yield node.value


def test_one_module_drives_micro_batches_and_one_names_their_partitions():
    callers, layouts = set(), set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text())
        if any(isinstance(n, ast.Attribute) and n.attr == "foreachBatch" for n in ast.walk(tree)):
            callers.add(module)
        if any(s == "ingest_batch" or "ingest_batch=" in s for s in _code_strings(tree)):
            layouts.add(module)
    assert callers == {"streaming/batches.py"}
    assert layouts == {"sources/commit.py"}
