"""The repo's two local-filesystem commit protocols, and the only code in
the package that renames store directories.

**Swap** replaces whole directories: the caller writes each new table to
its ``tmp`` sibling, then :func:`swap` renames each live dir aside to
``old`` and each ``tmp`` in. A swap of several tables first records its
intent (a marker written via tmp + fsync + rename, like the fold marker);
that record is the commit point. :func:`recover_swap`, called before the
next read, rolls forward past it (the remaining tables are renamed in)
and discards the tmps before it, so the tables always move together —
all old or all new. A one-table swap needs no record: a crash between
its two renames leaves the only copy at ``old``, which recovery adopts
back. Users: ``readers`` (``<path>._compact_*``, ``<path>._purge_*``),
``streaming/gold_upsert`` (``<store>/<table>.{tmp,old}`` + ``_SWAP.json``),
``operators/graph.update_cluster_table`` (``clusters.{tmp,old}``; the
``old`` copy is kept as the rollback copy).

**Fold** consolidates the append-only ``ingest_batch=N`` partitions of
a streaming index store: ``readers.compact_streaming_index`` writes all
but the ``keep_latest`` newest partitions (plus any previous
consolidated one) as one ``ingest_batch=-1`` partition under
``<root>._fold_tmp``, then :func:`_fold_commit` sets the old
consolidated aside in ``<root>._fold_old``, writes ``_FOLDED.json`` there
(commit point), renames the new consolidated in and drops the folded
dirs. :func:`recover_fold` finishes or undoes an interrupted fold;
``readers.fold_consistent_read`` reads every resting state of it.

Each rename is atomic on POSIX; neither protocol speaks HDFS or object
stores — there, a table format's commit (Delta/Iceberg/Hudi) is the
answer.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Sequence
from urllib.parse import urlparse

# (live, tmp, old) paths of one swapped directory
Table = tuple[str, str, str]

# A folded store's layout: micro-batch N lands in ``<root>/ingest_batch=N``
# and a fold consolidates into ``<root>/ingest_batch=-1``, a value no
# streaming batch id takes.
BATCH_COL = "ingest_batch"
CONSOLIDATED_BATCH = -1


def local_path(uri: str) -> str | None:
    """The driver-local path of ``uri``, or None when it names another
    filesystem: ``file:/p``, ``file:///p``, ``file://localhost/p`` and
    ``/p`` all map to ``/p``; ``s3a://b/k`` and ``hdfs://nn/p`` map to
    None."""
    u = urlparse(uri)
    if u.scheme == "file":
        return u.path if u.netloc in ("", "localhost") else None
    return None if u.scheme else uri


def _write_marker(path: str, obj: dict) -> None:
    # tmp + fsync + rename: a crash mid-dump leaves only the tmp name, so
    # the marker either exists whole or not at all
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(path + ".tmp", path)


def read_marker(path: str) -> dict | None:
    """The marker's content, or None when it is absent. An unparseable
    marker (a store written before markers were atomic, or FS damage)
    counts as absent: the commit never happened."""
    if not os.path.exists(path):
        return None
    try:
        with open(path) as fh:
            return json.load(fh)
    except (ValueError, OSError):
        return None


def swap(tables: Sequence[Table], *, intent: str | None = None, keep_old: bool = False) -> None:
    """Replace each ``live`` dir with its fully written ``tmp`` dir.
    Pass ``intent`` (a marker path) when more than one table must move as
    a unit; ``keep_old`` leaves the replaced dirs at ``old`` until the
    next swap (a rollback copy)."""
    for _, _, old in tables:
        if os.path.exists(old):
            shutil.rmtree(old)  # left by an earlier swap; its live dir is current
    if intent:
        _write_marker(intent, {"swap": [os.path.basename(live) for live, _, _ in tables]})
    _roll_forward(tables, intent, keep_old)


def _roll_forward(tables: Sequence[Table], intent: str | None, keep_old: bool) -> None:
    for live, tmp, old in tables:
        if os.path.exists(tmp):  # else this table was already swapped in
            if os.path.exists(live):
                os.rename(live, old)
            os.rename(tmp, live)
    if not keep_old:
        for _, _, old in tables:
            shutil.rmtree(old, ignore_errors=True)
    if intent and os.path.exists(intent):
        os.remove(intent)


def recover_swap(tables: Sequence[Table], *, intent: str | None = None, keep_old: bool = False) -> None:
    """Finish or undo a swap that died part-way; call it with the same
    arguments before reading the tables. Past the intent record, roll
    forward: rename in every tmp still waiting. Before it, roll back:
    adopt a stranded ``old`` whose live dir is missing (a one-table swap,
    or a store written before intent records) and discard the tmps."""
    if intent and read_marker(intent) is not None:
        _roll_forward(tables, intent, keep_old)
        return
    if intent:
        for stale in (intent, intent + ".tmp"):
            if os.path.exists(stale):
                os.remove(stale)
    for live, tmp, old in tables:
        if not os.path.exists(live) and os.path.exists(old):
            os.rename(old, live)
        shutil.rmtree(tmp, ignore_errors=True)


def recover_fold(root: str) -> None:
    """Crash recovery for an interrupted fold. The marker (written at
    the commit point) lists the folded partition dirs: marker present →
    roll FORWARD (place the consolidated partition from the tmp dir if
    needed, delete the listed folded dirs, discard the set-aside state);
    marker absent but set-aside dir present → roll BACK (adopt set-aside
    partitions back, discard the tmp)."""
    p = root.rstrip("/")
    old_root, tmp_root = p + "._fold_old", p + "._fold_tmp"
    marker = os.path.join(old_root, "_FOLDED.json")
    m = read_marker(marker)
    if m is not None:
        dst = os.path.join(p, m["consolidated"])
        src = os.path.join(tmp_root, m["consolidated"])
        if not os.path.exists(dst) and os.path.exists(src):
            os.rename(src, dst)
        for name in m["folded"]:
            # the folded list INCLUDES the old consolidated dir when a
            # re-fold subsumed it — but at roll-forward time the dir at
            # that name is the NEW consolidated partition (the old one
            # sits in old_root); deleting it here would destroy the fold
            # we are completing
            if name == m["consolidated"]:
                continue
            d = os.path.join(p, name)
            if os.path.exists(d):
                shutil.rmtree(d)
    elif os.path.isdir(old_root):
        for entry in os.listdir(old_root):
            if entry.startswith("_FOLDED.json"):  # torn/partial marker
                continue
            dst = os.path.join(p, entry)
            if not os.path.exists(dst):
                os.rename(os.path.join(old_root, entry), dst)
    shutil.rmtree(old_root, ignore_errors=True)
    shutil.rmtree(tmp_root, ignore_errors=True)


def _fold_commit(p: str, cons_name: str, fold_names: list[str], had_consolidated: bool) -> None:
    """Commit a fold whose consolidated partition is already written to
    ``<p>._fold_tmp/<cons_name>``: set the old consolidated aside, write
    the marker (COMMIT POINT — recovery rolls forward past it), rename
    the new consolidated in, delete the folded dirs, clean up."""
    old_root, tmp_root = p + "._fold_old", p + "._fold_tmp"
    os.makedirs(old_root, exist_ok=True)
    if had_consolidated:
        os.rename(os.path.join(p, cons_name), os.path.join(old_root, cons_name))
    _write_marker(os.path.join(old_root, "_FOLDED.json"), {"consolidated": cons_name, "folded": fold_names})
    os.rename(os.path.join(tmp_root, cons_name), os.path.join(p, cons_name))
    for name in fold_names:
        d = os.path.join(p, name)
        if os.path.exists(d) and name != cons_name:
            shutil.rmtree(d)
    shutil.rmtree(old_root, ignore_errors=True)
    shutil.rmtree(tmp_root, ignore_errors=True)

