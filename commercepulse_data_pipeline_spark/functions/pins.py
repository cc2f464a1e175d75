"""Lineage-cut policy for BOUNDED intermediates (r16, VERDICT r15 item 5).

The r15 optimization pass pinned ~10 bounded intermediates (pair lists,
vocabularies, group counts, calendar series) with ``localCheckpoint`` so
fan-out consumers stop re-executing the expensive lineage above them.
``localCheckpoint`` is the right single-node / trusted-executor default —
cheapest cut, no external storage — but it is NOT fault-tolerant: blocks
live only on executors, and on a preemptible-executor cluster losing one
AFTER the pin fails the job instead of recomputing. Threading a kwarg
through every operator would churn API signatures for a deployment-level
decision, so the knob here is a MODULE-LEVEL POLICY: call
:func:`set_pin_policy` once at session setup and every pin site in the
library — ``connected_components``' per-round cuts included — switches to
reliable ``DataFrame.checkpoint`` into that directory.

Reliable checkpoints are ALWAYS eager regardless of the site's ``eager``
argument — a lazy reliable checkpoint recomputes the whole plan a second
time when the file is saved after the first job (the r15 rule, measured in
``connected_components``). Lifecycle of the checkpoint files is the
CALLER's: Spark never deletes reliable checkpoint files, and every
connected-components round keeps its copy of the label state; delete the
directory when the session's results are materialized.

The policy points the SparkContext's checkpoint dir at its directory once,
in :func:`set_pin_policy`; :func:`pin` never touches it.

The default policy (no directory) is byte-for-byte the prior behaviour:
``localCheckpoint(eager=...)`` with each site's measured eager/lazy choice
(lazy only when ONE sequential consumer materializes the cache first;
eager whenever the pin fans into concurrent broadcast builds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_POLICY: dict = {"checkpoint_dir": None}


def set_pin_policy(checkpoint_dir: str | None = None) -> None:
    """Set the library-wide lineage-cut mode: ``None`` (default) keeps
    fast executor-local ``localCheckpoint`` pins; a reliable (HDFS/S3)
    directory switches every pin site to fault-tolerant
    ``DataFrame.checkpoint`` — the 100 TB preemptible-executor posture.
    Takes effect for pins executed after the call; checkpoint-file
    lifecycle is the caller's (see module docstring). A directory is set
    as the active SparkContext's checkpoint dir here, so one must be
    running."""
    if checkpoint_dir is not None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            raise RuntimeError(
                "set_pin_policy(checkpoint_dir=...) needs an active SparkContext"
            )
        sc.setCheckpointDir(checkpoint_dir)
    _POLICY["checkpoint_dir"] = checkpoint_dir


def get_pin_policy() -> str | None:
    return _POLICY["checkpoint_dir"]


def pin(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Truncate the lineage of a BOUNDED intermediate under the module
    policy. Callers must only pin frames bounded by something other than
    corpus row count (pair lists, vocabularies, group counts, series) —
    the pinned blocks live in executor storage until RDD GC."""
    if _POLICY["checkpoint_dir"] is not None:
        # reliable checkpoints are ALWAYS eager: a lazy RDD.checkpoint()
        # recomputes the plan when the checkpoint file is saved after the
        # first job over it (r15 measured rule)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)
