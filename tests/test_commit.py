"""Spark-free checks of the store-commit protocol (sources/commit.py):
plain directories holding one marker file each stand in for parquet
tables, and a crash is injected at every rename the protocol makes.
A guard keeps every directory rename in that module."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import pytest

from commercepulse_data_pipeline_spark.sources import commit

_TABLES = ("orders", "payments", "gold")
# one rename for the intent record, then two per table
_SWAP_RENAMES = 1 + 2 * len(_TABLES)


class _Crash(RuntimeError):
    pass


def _crash_on(monkeypatch, n: int | None) -> dict:
    """Make the n-th call to os.rename/os.replace raise; count all calls."""
    calls = {"n": 0}
    for name in ("rename", "replace"):
        real = getattr(os, name)

        def fake(src, dst, *a, _real=real, **kw):
            calls["n"] += 1
            if calls["n"] == n:
                raise _Crash(f"crash at rename {n}")
            return _real(src, dst, *a, **kw)

        monkeypatch.setattr(os, name, fake)
    return calls


def _write_table(path: str, version: str) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "VERSION"), "w") as fh:
        fh.write(version)


def _version(path: str) -> str | None:
    try:
        with open(os.path.join(path, "VERSION")) as fh:
            return fh.read()
    except FileNotFoundError:
        return None


def _tables(root: str) -> list[commit.Table]:
    return [(os.path.join(root, t), os.path.join(root, t) + ".tmp", os.path.join(root, t) + ".old") for t in _TABLES]


def _store(tmp_path):
    root = str(tmp_path / "store")
    tables = _tables(root)
    for live, tmp, _ in tables:
        _write_table(live, "old")
        _write_table(tmp, "new")
    return root, tables, os.path.join(root, "_SWAP.json")


def _assert_converged(root: str, want: str) -> None:
    assert [_version(live) for live, _, _ in _tables(root)] == [want] * len(_TABLES)
    assert sorted(os.listdir(root)) == sorted(_TABLES)


# A partition fold: the consolidated partition is replaced, a folded one
# is dropped and a kept one is not part of the commit. One rename for
# the intent record, two for the replaced table, one for the dropped.
_FOLD_RENAMES = 4


def _fold_tables(root: str) -> list[commit.Table]:
    cons, folded = (os.path.join(root, n) for n in ("ingest_batch=-1", "ingest_batch=3"))
    return [(cons, cons + ".tmp", cons + ".old"), (folded, None, folded + ".old")]


def _fold_store(tmp_path):
    root = str(tmp_path / "idx")
    for name, rows in (("ingest_batch=-1", "a"), ("ingest_batch=3", "b"), ("ingest_batch=4", "c")):
        _write_table(os.path.join(root, name), rows)
    _write_table(os.path.join(root, "ingest_batch=-1.tmp"), "ab")
    return root, _fold_tables(root), os.path.join(root, "_SWAP.json")


def _assert_folded(root: str, want: str) -> None:
    got = {name: _version(os.path.join(root, name)) for name in os.listdir(root)}
    if want == "old":
        assert got == {"ingest_batch=-1": "a", "ingest_batch=3": "b", "ingest_batch=4": "c"}
    else:
        assert got == {"ingest_batch=-1": "ab", "ingest_batch=4": "c"}


# (store factory, tables, converged check, renames) per input
_INPUTS = {
    "three": (_store, _tables, _assert_converged, _SWAP_RENAMES),
    "fold": (_fold_store, _fold_tables, _assert_folded, _FOLD_RENAMES),
}


def test_three_table_swap_renames_once_per_step(tmp_path, monkeypatch):
    root, tables, intent = _store(tmp_path)
    calls = _crash_on(monkeypatch, None)
    commit.swap(tables, intent=intent)
    monkeypatch.undo()
    assert calls["n"] == _SWAP_RENAMES
    _assert_converged(root, "new")


@pytest.mark.parametrize(
    "kind, crash_at",
    [pytest.param("three", n, id=str(n)) for n in range(1, _SWAP_RENAMES + 1)]
    + [pytest.param("fold", n, id=f"fold-{n}") for n in range(1, _FOLD_RENAMES + 1)],
)
def test_three_table_swap_is_all_or_nothing_at_every_crash_point(tmp_path, monkeypatch, kind, crash_at):
    """Crash the swap at each rename, then recover: every table ends
    all-old or all-new and all tables agree — old before the intent
    record is durable, new after it. The recovery is also killed at each
    of its own renames (on a copy of the torn store) and retried. The
    ``fold`` input is a partition fold: a replaced table whose live dir
    exists plus a dropped table (no tmp), which ends deleted."""
    build, tables_of, assert_converged, renames = _INPUTS[kind]
    root, tables, intent = build(tmp_path)
    _crash_on(monkeypatch, crash_at)
    with pytest.raises(_Crash):
        commit.swap(tables, intent=intent)
    monkeypatch.undo()
    want = "old" if crash_at == 1 else "new"

    for recovery_crash in range(1, renames):
        copy = str(tmp_path / f"copy{recovery_crash}")
        shutil.copytree(root, copy)
        _crash_on(monkeypatch, recovery_crash)
        try:
            commit.recover_swap(tables_of(copy), intent=os.path.join(copy, "_SWAP.json"))
        except _Crash:
            pass
        monkeypatch.undo()
        commit.recover_swap(tables_of(copy), intent=os.path.join(copy, "_SWAP.json"))
        assert_converged(copy, want)

    commit.recover_swap(tables, intent=intent)
    assert_converged(root, want)


def test_one_table_swap_keeps_rollback_copy_and_adopts_it(tmp_path):
    path = str(tmp_path / "clusters")
    table = (path, path + ".tmp", path + ".old")
    _write_table(path, "v1")
    _write_table(table[1], "v2")
    commit.swap([table], keep_old=True)
    assert (_version(path), _version(table[2])) == ("v2", "v1")
    # crash between the two renames of the next swap: only .old is left
    _write_table(table[1], "v3")
    os.rename(table[2], str(tmp_path / "discard"))
    os.rename(path, table[2])
    commit.recover_swap([table], keep_old=True)
    assert _version(path) == "v2"
    assert not os.path.exists(table[1])


def test_swap_recovery_adopts_store_stranded_without_intent(tmp_path):
    """A store torn by a swap that wrote no intent record (one table
    renamed aside, never replaced) recovers by adopting the old copy."""
    root, tables, intent = _store(tmp_path)
    live, tmp, old = tables[1]
    os.rename(live, old)
    commit.recover_swap(tables, intent=intent)
    assert [_version(t[0]) for t in tables] == ["old"] * len(tables)
    assert sorted(os.listdir(root)) == sorted(_TABLES)


def test_fold_recovery_rolls_back_past_a_torn_marker(tmp_path):
    """An unparseable intent record (a store written before markers were
    atomic) beside a torn ``_SWAP.json.tmp`` means the fold's commit
    never happened: recovery adopts the set-aside partition back, keeps
    the folded one, and removes both record files instead of failing on
    them."""
    root, tables, intent = _fold_store(tmp_path)
    with open(intent, "w") as fh:
        fh.write('{"tables": [["ingest_batch=-1", "ingest_batch=-1.tmp", "ing')
    with open(intent + ".tmp", "w") as fh:
        fh.write("{")
    cons = tables[0][0]
    os.rename(cons, tables[0][2])
    commit.recover_swap(tables, intent=intent)
    _assert_folded(root, "old")


_RENAMES = {"os": {"rename", "replace"}, "shutil": {"move"}}


def test_only_the_commit_module_renames():
    """``os.rename``, ``os.replace`` and ``shutil.move`` are called only
    in ``sources/commit.py``: every store directory moves through its one
    protocol."""
    package = pathlib.Path(commit.__file__).resolve().parents[1]
    callers = set()
    for path in sorted(package.rglob("*.py")):
        tree = ast.parse(path.read_text())
        aliases = {}  # local name -> the module it names
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                aliases.update((a.asname or a.name, a.name) for a in node.names if a.name in _RENAMES)
            elif isinstance(node, ast.ImportFrom) and node.module in _RENAMES:
                if any(a.name in _RENAMES[node.module] for a in node.names):
                    callers.add(path.relative_to(package).as_posix())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.attr in _RENAMES.get(aliases.get(node.func.value.id), ())
            ):
                callers.add(path.relative_to(package).as_posix())
    assert callers == {"sources/commit.py"}
