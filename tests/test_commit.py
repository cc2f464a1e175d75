"""Spark-free checks of the store-commit protocols (sources/commit.py):
plain directories holding one marker file each stand in for parquet
tables, and a crash is injected at every rename the protocol makes."""

from __future__ import annotations

import os
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


def test_three_table_swap_renames_once_per_step(tmp_path, monkeypatch):
    root, tables, intent = _store(tmp_path)
    calls = _crash_on(monkeypatch, None)
    commit.swap(tables, intent=intent)
    monkeypatch.undo()
    assert calls["n"] == _SWAP_RENAMES
    _assert_converged(root, "new")


@pytest.mark.parametrize("crash_at", range(1, _SWAP_RENAMES + 1))
def test_three_table_swap_is_all_or_nothing_at_every_crash_point(tmp_path, monkeypatch, crash_at):
    """Crash the swap at each rename, then recover: every table ends
    all-old or all-new and all tables agree — old before the intent
    record is durable, new after it. The recovery is also killed at each
    of its own renames (on a copy of the torn store) and retried."""
    root, tables, intent = _store(tmp_path)
    _crash_on(monkeypatch, crash_at)
    with pytest.raises(_Crash):
        commit.swap(tables, intent=intent)
    monkeypatch.undo()
    want = "old" if crash_at == 1 else "new"

    for recovery_crash in range(1, 2 * len(_TABLES) + 1):
        copy = str(tmp_path / f"copy{recovery_crash}")
        shutil.copytree(root, copy)
        _crash_on(monkeypatch, recovery_crash)
        try:
            commit.recover_swap(_tables(copy), intent=os.path.join(copy, "_SWAP.json"))
        except _Crash:
            pass
        monkeypatch.undo()
        commit.recover_swap(_tables(copy), intent=os.path.join(copy, "_SWAP.json"))
        _assert_converged(copy, want)

    commit.recover_swap(tables, intent=intent)
    _assert_converged(root, want)


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
    assert not any(os.path.exists(t[1]) for t in tables)


@pytest.mark.parametrize("crash_at", range(1, 4))
def test_fold_commit_is_all_or_nothing_at_every_crash_point(tmp_path, monkeypatch, crash_at):
    """The fold's three renames (old consolidated aside, marker,
    consolidated in): after a crash and recovery the store holds either
    the pre-fold partitions or the folded ones, never a mix."""
    root = str(tmp_path / "idx")
    for name, rows in (("ingest_batch=-1", "a"), ("ingest_batch=3", "b"), ("ingest_batch=4", "c")):
        _write_table(os.path.join(root, name), rows)
    _write_table(os.path.join(root + "._fold_tmp", "ingest_batch=-1"), "ab")
    _crash_on(monkeypatch, crash_at)
    with pytest.raises(_Crash):
        commit._fold_commit(root, "ingest_batch=-1", ["ingest_batch=3", "ingest_batch=-1"], True)
    monkeypatch.undo()
    commit.recover_fold(root)
    got = {name: _version(os.path.join(root, name)) for name in os.listdir(root)}
    if crash_at <= 2:  # before the marker is durable
        assert got == {"ingest_batch=-1": "a", "ingest_batch=3": "b", "ingest_batch=4": "c"}
    else:
        assert got == {"ingest_batch=-1": "ab", "ingest_batch=4": "c"}
    assert not os.path.exists(root + "._fold_old")
    assert not os.path.exists(root + "._fold_tmp")


def test_fold_recovery_rolls_back_past_a_torn_marker(tmp_path):
    """An unparseable ``_FOLDED.json`` (a store written before markers
    were atomic) beside a torn ``_FOLDED.json.tmp`` means the commit never
    happened: recovery adopts the set-aside partition back and removes
    the set-aside dir instead of failing on the marker."""
    root = str(tmp_path / "idx")
    old_root = root + "._fold_old"
    _write_table(os.path.join(root, "ingest_batch=1"), "b")
    _write_table(os.path.join(old_root, "ingest_batch=0"), "a")
    with open(os.path.join(old_root, "_FOLDED.json"), "w") as fh:
        fh.write('{"consolidated": "ingest_batch=-1", "fol')
    with open(os.path.join(old_root, "_FOLDED.json.tmp"), "w") as fh:
        fh.write("{")
    commit.recover_fold(root)
    got = {name: _version(os.path.join(root, name)) for name in os.listdir(root)}
    assert got == {"ingest_batch=0": "a", "ingest_batch=1": "b"}
    assert not os.path.exists(old_root)
