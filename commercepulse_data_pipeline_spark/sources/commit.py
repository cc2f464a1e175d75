"""The repo's one local-filesystem commit protocol, and the only code in
the package that renames store directories.

A commit replaces or drops whole directories ("tables"). The caller
writes each replaced table to its ``tmp`` sibling; :func:`swap` then
renames each live dir aside to ``old``, renames each ``tmp`` in and
deletes the ``old`` dirs. A dropped table has no ``tmp``: it is renamed
aside and deleted. A commit of several tables first records its intent
(a marker written via tmp + fsync + rename, listing every table by its
paths relative to the marker's directory, so a copied store still
recovers). Nothing moves before the record, and the record is the
commit point. :func:`recover_swap`, called before the next read, rolls
forward from the tables the record lists and, with no record, discards
the tmps, so the tables always move together — all old or all new. A
one-table swap needs no record: a crash between its two renames leaves
the only copy at ``old``, which recovery adopts back.

Users:

- ``readers`` layout rewrites: ``<path>._compact_*``, ``<path>._purge_*``
  (one table);
- ``streaming/gold_upsert``: ``<store>/<table>.{tmp,old}`` for four
  tables, recorded in ``<store>/_SWAP.json``;
- ``operators/graph.update_cluster_table``: ``clusters.{tmp,old}``, the
  ``old`` copy kept as the rollback copy;
- ``readers.compact_streaming_index``, the partition fold of a streaming
  index store: the new consolidated ``ingest_batch=-1`` partition is a
  replaced table and each folded ``ingest_batch=N`` partition a dropped
  one, with hidden ``<root>/.<partition>.{tmp,old}`` siblings and the
  record at ``<root>/_SWAP.json``.

Two things read an intent record: :func:`recover_swap`, which rolls the
commit forward from it, and ``readers.store_partitions``, the only
listing of a folded store, which lists the post-fold store while the
record is present. Every reader of such a store (``batches.prior``,
``readers.fold_consistent_read``, the text and LSH index readers) goes
through that listing, so none of them ever sees a half-folded store.

Each rename is atomic on POSIX; the protocol does not speak HDFS or
object stores — there, a table format's commit (Delta/Iceberg/Hudi) is
the answer.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Sequence

# (live, tmp, old) paths of one committed directory; tmp is None for a
# directory the commit drops
Table = tuple[str, str | None, str]

# the intent record's file name in a store directory
INTENT = "_SWAP.json"

# A folded store's layout: micro-batch N lands in ``<root>/ingest_batch=N``
# and a fold consolidates into ``<root>/ingest_batch=-1``, a value no
# streaming batch id takes.
BATCH_COL = "ingest_batch"
CONSOLIDATED_BATCH = -1


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


def intent_tables(intent: str) -> list[Table] | None:
    """The tables a durable intent record lists, resolved against the
    record's directory; None when there is no record."""
    record = read_marker(intent)
    if record is None:
        return None
    base = os.path.dirname(intent)
    return [
        tuple(None if p is None else os.path.normpath(os.path.join(base, p)) for p in table)
        for table in record["tables"]
    ]


def swap(tables: Sequence[Table], *, intent: str | None = None, keep_old: bool = False) -> None:
    """Replace each ``live`` dir with its fully written ``tmp`` dir, and
    drop each ``live`` dir whose ``tmp`` is None. Pass ``intent`` (a
    marker path) when more than one table must move as a unit;
    ``keep_old`` leaves the replaced dirs at ``old`` until the next swap
    (a rollback copy)."""
    for _, _, old in tables:
        if os.path.exists(old):
            shutil.rmtree(old)  # left by an earlier swap; its live dir is current
    if intent:
        base = os.path.dirname(intent)
        rel = [[None if p is None else os.path.relpath(p, base) for p in table] for table in tables]
        _write_marker(intent, {"tables": rel})
    _roll_forward(tables, intent, keep_old)


def _roll_forward(tables: Sequence[Table], intent: str | None, keep_old: bool) -> None:
    for live, tmp, old in tables:
        if tmp is None or os.path.exists(tmp):  # else already swapped in
            if os.path.exists(live):
                os.rename(live, old)
            if tmp is not None:
                os.rename(tmp, live)
    if not keep_old:
        for _, _, old in tables:
            shutil.rmtree(old, ignore_errors=True)
    if intent and os.path.exists(intent):
        os.remove(intent)


def recover_swap(tables: Sequence[Table], *, intent: str | None = None, keep_old: bool = False) -> None:
    """Finish or undo a swap that died part-way; call it before reading
    the tables. Past the intent record, roll forward the tables the
    record lists: rename aside every live dir still waiting and rename
    in every tmp. Before it, roll back ``tables``: adopt a stranded
    ``old`` whose live dir is missing (a one-table swap) and discard the
    tmps."""
    recorded = intent_tables(intent) if intent else None
    if recorded is not None:
        _roll_forward(recorded, intent, keep_old)
        return
    if intent:
        for stale in (intent, intent + ".tmp"):
            if os.path.exists(stale):
                os.remove(stale)
    for live, tmp, old in tables:
        if not os.path.exists(live) and os.path.exists(old):
            os.rename(old, live)
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
