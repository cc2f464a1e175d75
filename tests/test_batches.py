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
