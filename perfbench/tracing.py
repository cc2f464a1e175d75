"""Per-layer spans recorded from outside the program.

Every call the benchmark makes into a layer runs inside ``Tracer.span``.
The span's wall time counts as the layer's busy time, minus the time of
spans nested in it (self time). In a traced run each span also tags its
Spark jobs with a job group of its own; after the timed region the tracer
reads jobs, stages, task time and shuffle, spill and output bytes for
those groups out of Spark's status store (readable with the UI off).
An untraced run keeps the spans' clocks and skips the tagging and the
harvest, so the difference between the two runs is the tracing overhead.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "sources",
    "plans.silver",
    "plans.gold",
    "plans.dimensions",
    "plans.quality",
    "streaming.ingest",
    "streaming.gold_upsert",
    "operators.text",
    "operators.dedup",
    "operators.graph",
    "operators.sampling",
    "operators.packing",
)
# Spark has no record counts for results collected to the driver, and
# the contract caps the per-layer list, so ``rows_in`` is kept where a
# ratio needs it; spill stays at zero on small inputs outside the layers
# that sort or window large shuffles, so only those carry a spill metric
ROWS_IN_LAYERS = ("sources", "plans.silver")
SPILL_LAYERS = ("plans.silver", "streaming.gold_upsert", "operators.dedup", "operators.graph")

# (name suffix, unit) per layer
LAYER_METRICS = (
    ("busy_s", "s"),
    ("calls", "count"),
    ("spark_jobs", "count"),
    ("spark_stages", "count"),
    ("task_cpu_s", "s"),
    ("core_idle_share", "share"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("bytes_written_mb", "MB"),
    ("rows_in", "rows"),
    ("rows_out", "rows"),
)
EXTRA_METRICS = (
    ("plans.silver.keep_ratio", "ratio"),
    ("sources.skipped_records", "rows"),
    ("streaming.gold_upsert.affected_dates", "count"),
    ("streaming.gold_upsert.rewrite_ratio", "ratio"),
    ("streaming.ingest.addBatch_ms", "ms"),
    ("streaming.ingest.queryPlanning_ms", "ms"),
    ("streaming.ingest.walCommit_ms", "ms"),
    ("operators.dedup.pair_yield", "ratio"),
    ("trace.run_s", "s"),
    ("trace.tagging_s", "s"),
    ("trace.harvest_s", "s"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports: (name, unit)."""
    out = []
    for layer in LAYERS:
        for suffix, unit in LAYER_METRICS:
            if suffix == "spill_mb" and layer not in SPILL_LAYERS:
                continue
            if suffix == "rows_in" and layer not in ROWS_IN_LAYERS:
                continue
            out.append((f"{layer}.{suffix}", unit))
    return out + list(EXTRA_METRICS)


_MB = 1024.0 * 1024.0
_STAGE_FIELDS = {
    "run_ms": lambda sd: sd.executorRunTime(),
    "cpu_ns": lambda sd: sd.executorCpuTime(),
    "shuffle_write": lambda sd: sd.shuffleWriteBytes(),
    "spill": lambda sd: sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    "output_bytes": lambda sd: sd.outputBytes(),
    "input_records": lambda sd: sd.inputRecords(),
    "output_records": lambda sd: sd.outputRecords(),
}


class Tracer:
    def __init__(self, spark, traced: bool, cores: int) -> None:
        self.spark = spark
        self.traced = traced
        self.cores = cores
        self.busy = defaultdict(float)
        self.calls = defaultdict(int)
        self.extra: dict[str, float] = {}
        self.tagging_s = 0.0
        self.harvest_s = 0.0
        self._rows = defaultdict(lambda: [0, 0])  # layer -> [rows_in, rows_out]
        self._stats = {layer: defaultdict(float) for layer in LAYERS}
        self._stages = defaultdict(set)  # layer -> stage ids already counted
        self._pending: list[tuple[str, str]] = []
        self._stack: list[list] = []  # [layer, group, child_seconds]
        self._seq = 0

    def _tag(self, group: str | None) -> None:
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)
        self.tagging_s += time.perf_counter() - t0

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        group = None
        if self.traced:
            self._seq += 1
            group = f"{layer}#{self._seq}"
            self._pending.append((layer, group))
            self._tag(group)
        frame = [layer, group, 0.0]
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            self.busy[layer] += dt - frame[2]
            self.calls[layer] += 1
            if self._stack:
                self._stack[-1][2] += dt
            if self.traced:
                self._tag(self._stack[-1][1] if self._stack else None)

    def add_group(self, layer: str, group: str) -> None:
        """Attribute jobs Spark tagged itself (a streaming query tags its
        micro-batch jobs with the query's run id) to ``layer``."""
        if self.traced:
            self._pending.append((layer, group))

    def add_rows(self, layer: str, rows_in: int = 0, rows_out: int = 0) -> None:
        """Rows a layer call read or returned that no stage metric sees
        (results collected to the driver)."""
        self._rows[layer][0] += rows_in
        self._rows[layer][1] += rows_out

    def _harvest(self) -> None:
        if not self._pending:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for layer, group in self._pending:
            s = self._stats[layer]
            for job_id in tracker.getJobIdsForGroup(group):
                s["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    if stage_id in self._stages[layer]:
                        continue
                    sd = store.lastStageAttempt(stage_id)
                    if sd.status().toString() == "SKIPPED":
                        continue  # its output was reused from an earlier job
                    self._stages[layer].add(stage_id)
                    for key, read in _STAGE_FIELDS.items():
                        s[key] += read(sd)
        self._pending.clear()
        self.harvest_s += time.perf_counter() - t0

    def bytes_written(self, layer: str) -> float:
        self._harvest()
        return self._stats[layer]["output_bytes"]

    def metrics(self) -> dict[str, float]:
        """Every per-layer metric; zero for layers this workload never
        calls and for counts an untraced run does not collect."""
        self._harvest()
        out: dict[str, float] = {}
        for layer in LAYERS:
            s = self._stats[layer]
            busy = self.busy.get(layer, 0.0)
            run_s = s["run_ms"] / 1000.0
            out[f"{layer}.busy_s"] = busy
            out[f"{layer}.calls"] = self.calls.get(layer, 0)
            out[f"{layer}.spark_jobs"] = int(s["jobs"])
            out[f"{layer}.spark_stages"] = len(self._stages[layer])
            out[f"{layer}.task_cpu_s"] = s["cpu_ns"] / 1e9
            out[f"{layer}.core_idle_share"] = (
                max(0.0, 1.0 - run_s / (busy * self.cores))
                if busy > 0 and self.traced
                else 0.0
            )
            out[f"{layer}.shuffle_write_mb"] = s["shuffle_write"] / _MB
            out[f"{layer}.spill_mb"] = s["spill"] / _MB
            out[f"{layer}.bytes_written_mb"] = s["output_bytes"] / _MB
            out[f"{layer}.rows_in"] = int(s["input_records"]) + self._rows[layer][0]
            out[f"{layer}.rows_out"] = int(s["output_records"]) + self._rows[layer][1]
        rows_in = out["plans.silver.rows_in"]
        out["plans.silver.keep_ratio"] = (
            out["plans.silver.rows_out"] / rows_in if rows_in else 0.0
        )
        out["trace.tagging_s"] = self.tagging_s
        out["trace.harvest_s"] = self.harvest_s
        out.update(self.extra)
        names = [name for name, _ in per_layer_metrics()]
        return {name: out.get(name, 0) for name in names}
