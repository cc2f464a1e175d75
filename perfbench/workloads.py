"""The benchmark's workloads. Each one builds its inputs from the seed,
times its operations in a closed loop with one client (the next operation
starts when the previous one has finished) and checks the outputs.

A workload returns a ``Result``; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
import oracle
import pyarrow as pa
import pyarrow.parquet as papq
import queries

from commercepulse_data_pipeline_spark.operators import dedup as dd
from commercepulse_data_pipeline_spark.operators import graph, packing, sampling
from commercepulse_data_pipeline_spark.operators import text as tx
from commercepulse_data_pipeline_spark.plans import dimensions, gold, silver
from commercepulse_data_pipeline_spark.sources import readers
from commercepulse_data_pipeline_spark.streaming import gold_upsert, ingest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Result:
    setup_s: float = 0.0
    op_s: list[float] = field(default_factory=list)  # latency of each timed operation
    op_cpu_s: list[float] = field(default_factory=list)  # CPU time of each timed operation
    items: int = 0  # input items the timed operations processed
    bytes_in: int = 0  # input bytes behind ``items``
    bytes_written: int = 0  # bytes the timed operations wrote to storage
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    detail: dict[str, object] = field(default_factory=dict)


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def file_states(*dirs: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, mtime ns, size) of every file under ``dirs``."""
    out = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Size of the files in ``after`` that are new or changed since
    ``before`` (a file renamed into place counts as new at its path)."""
    return sum(st[2] for path, st in after.items() if before.get(path) != st)


def cpu_seconds(root_pid: int) -> float:
    """CPU time (user + system) used so far by this process and by
    ``root_pid`` with every process descended from it (the driver JVM and
    the Python workers it forks)."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited meanwhile
            stats[int(entry)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    t = os.times()
    return total / tick + t.user + t.system


def closed_loop(ctx, op, limit: int | None = None) -> tuple[list[float], list[float], int]:
    """Call ``op(k)`` back to back until ``ctx.seconds`` have passed (at
    least once; at most ``limit`` times when the workload has only that
    many inputs). Returns the latency and the CPU time (``ctx.cpu()``) of
    each call that succeeded and the number of calls that raised. An
    ``op`` that returns a number reports its own latency (bookkeeping
    around it is untimed)."""
    seconds = ctx.seconds
    lat: list[float] = []
    cpu: list[float] = []
    failed = 0
    start = time.perf_counter()
    while (n := len(lat) + failed) != limit and (
        n == 0 or time.perf_counter() - start < seconds
    ):
        c0 = ctx.cpu()
        t0 = time.perf_counter()
        try:
            own = op(n)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        lat.append(time.perf_counter() - t0 if own is None else own)
        cpu.append(ctx.cpu() - c0)
    if not lat:
        raise RuntimeError("every timed operation failed")
    return lat, cpu, failed


def _landing(day_seeds: list[str], per_day: list[int]):
    """Landing files and malformed lines per file."""
    return gen.landing_days(day_seeds, per_day), gen.malformed_lines(day_seeds)


def _unique_ids(files: list[list[dict]]) -> int:
    return len({e["event_id"] for f in files for e in f})


_SILVER = {
    "orders": silver.normalize_orders,
    "payments": silver.normalize_payments,
    "refunds": silver.normalize_refunds,
    "shipments": silver.normalize_shipments,
}


def _batch_chain(spark, tr, landing: str | list[str], out: str, tables=tuple(_SILVER)) -> tuple[int, dict]:
    """The batch path over a landing: sources -> plans.silver -> plans.gold
    -> plans.dimensions, each stage written as parquet under ``out``
    (bronze, the silver ``tables``, gold, three dimensions). ``out`` has
    the store layout ``streaming.gold_upsert`` maintains. Returns the
    skipped-line count and the silver frames read back from parquet."""
    with tr.span("sources"):
        raw = readers.read_jsonl_events(spark, landing)
        skipped = readers.skip_count(raw)
        good = readers.valid_events(raw).dropDuplicates(["event_id"])
        readers.write_bronze(good, os.path.join(out, "bronze"), mode="overwrite")
    with tr.span("plans.silver"):
        events = readers.read_bronze(spark, os.path.join(out, "bronze"))
        for name in tables:
            _SILVER[name](events).write.mode("overwrite").parquet(os.path.join(out, name))
    frames = {name: spark.read.parquet(os.path.join(out, name)) for name in tables}
    o, p, r = frames["orders"], frames["payments"], frames["refunds"]
    with tr.span("plans.gold"):
        gold.build_fact_order_daily(o, p, r).write.mode("overwrite").parquet(
            os.path.join(out, "gold")
        )
    with tr.span("plans.dimensions"):
        for name, df in (
            ("dim_date", dimensions.build_dim_date(spark)),
            ("dim_customer", dimensions.build_dim_customer(o)),
            ("dim_product", dimensions.build_dim_product(spark)),
        ):
            df.write.mode("overwrite").parquet(os.path.join(out, name))
    return skipped, frames


def _check_batch(con, out: str, unique_events: int, bad_lines: int, skipped: int) -> dict:
    """Checks on one ``_batch_chain`` output, all read back with DuckDB."""
    orders = oracle.pq(os.path.join(out, "orders"))
    customers = con.execute(
        f"SELECT count(DISTINCT customer_id) FROM {orders}"
    ).fetchone()[0]
    dim_rows = con.execute(
        f"SELECT count(*) FROM {oracle.pq(os.path.join(out, 'dim_customer'))}"
    ).fetchone()[0]
    return {
        "bronze_distinct_event_ids": (
            oracle.distinct_event_ids(con, os.path.join(out, "bronze")) == unique_events
        ),
        "skipped_records": skipped == bad_lines,
        "gold_duckdb_replay": oracle.gold_equal(
            oracle.read_gold(con, os.path.join(out, "gold")), oracle.replay_gold(con, out)
        ),
        "dim_customer_rows": dim_rows == customers,
    }


# ------------------------------------------------------- daily_incremental

_STORE_TABLES = ("orders", "payments", "refunds", "gold")


def _source_key(extra: object) -> str:
    """Hash of the program, the benchmark and ``extra``: a pre-built store
    is reused only by the code and sizes that built it."""
    h = hashlib.sha256(repr(extra).encode())
    for top in ("commercepulse_data_pipeline_spark", "perfbench", "tools"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    path = os.path.join(root, f)
                    h.update(path[len(ROOT):].encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def history_path(work_root: str, spec: dict) -> str:
    """Where ``build_history`` leaves the pre-built store for this program
    and these sizes."""
    return os.path.join(work_root, "cache", "history-" + _source_key(spec["daily_incremental"]))


def _history_landing(size: dict) -> tuple[list[str], list[int]]:
    """Day seeds and sizes of the history days (the same in every run)."""
    hist_days = size["history_days"]
    return [f"history:{d}" for d in range(hist_days)], [size["history_events_per_day"]] * hist_days


def build_history(ctx) -> None:
    """Build the pre-built warehouse the daily folds maintain: the history
    landing days and the batch chain's output over them (bronze, silver,
    gold, dimensions), plus the checks on that output. History days do not
    depend on the run's seed, so this runs once per checkout, program and
    sizes (``run.py`` starts it in a process of its own, so that every
    timed fold still runs on a fresh JVM) and each run starts from a copy."""
    path = history_path(os.path.dirname(ctx.work), ctx.spec)
    seeds, per_day = _history_landing(ctx.spec["daily_incremental"])
    files, bad = _landing(seeds, per_day)
    tmp = f"{path}.{os.getpid()}.tmp"
    landing = os.path.join(tmp, "landing")
    for d in range(len(seeds)):
        gen.write_day(landing, d, files[d], bad[d])
    store = os.path.join(tmp, "store")
    skipped, _ = _batch_chain(
        ctx.spark, ctx.tracer, os.path.join(landing, "*", "events.jsonl"), store,
        tables=_STORE_TABLES[:3],
    )
    con = oracle.connect(ctx.cores)
    checks = _check_batch(con, store, _unique_ids(files), sum(map(len, bad)), skipped)
    con.close()
    with open(os.path.join(tmp, "checks.json"), "w") as f:
        json.dump(checks, f)
    os.rename(tmp, path)  # atomic: a half-built store is never reused


def daily_incremental(ctx) -> Result:
    """Set-up copies the pre-built history store (``build_history``). One
    operation = release the next (small) landing file into the watched
    landing directory and run the gold maintenance stream (availableNow)
    until gold reflects it; its latency is the file's freshness. Each run
    is a fresh process, like a scheduler-driven daily job. After the timed
    loop a batch build over everything landed so far is the convergence
    reference, and one client issues a seeded mix of analyst query
    templates over the maintained store."""
    spark, tr, size = ctx.spark, ctx.tracer, ctx.spec["daily_incremental"]
    res = Result()
    hist_days, releases = size["history_days"], size["releases"]
    per_day = [size["history_events_per_day"]] * hist_days + [size["release_events"]] * releases
    t0 = time.perf_counter()
    # history days are the same in every run; releases follow the seed.
    # The history days are drawn again here because a release's payments
    # and refunds reference orders they created
    seeds = _history_landing(size)[0]
    seeds += [f"{ctx.seed}:{d}" for d in range(hist_days, hist_days + releases)]
    files, bad = _landing(seeds, per_day)
    cached = history_path(os.path.dirname(ctx.work), ctx.spec)
    with open(os.path.join(cached, "checks.json")) as f:
        history_checks = json.load(f)
    store = os.path.join(ctx.work, "store")
    shutil.copytree(os.path.join(cached, "store"), store)
    stage = os.path.join(ctx.work, "stage")
    live = os.path.join(ctx.work, "landing")
    os.makedirs(live)
    for d in range(hist_days, hist_days + releases):
        gen.write_day(stage, d, files[d], bad[d])
    fx_csv = os.path.join(ctx.work, "fx.csv")
    gen.write_fx_rates(fx_csv, ctx.seed, hist_days + releases)
    res.setup_s = time.perf_counter() - t0
    ckpt = os.path.join(ctx.work, "checkpoint")
    live_glob = os.path.join(live, "*", "events.jsonl")
    res.checks = {f"history.{k}": v for k, v in history_checks.items()}

    # the stream's foreachBatch body looks the fold function up at call
    # time, so a wrapper here puts every fold inside its own layer span
    fold = gold_upsert.upsert_gold_batch

    def traced_fold(batch_df, store_dir, **kw):
        with tr.span("streaming.gold_upsert"):
            fold(batch_df, store_dir, **kw)

    progress: list[dict] = []
    changed_dates: list[int] = []
    fold_bytes: list[int] = []  # bytes each fold wrote (store + stream checkpoint)
    rewrite: list[float] = []  # store bytes each fold rewrote / store bytes after it
    tables = [os.path.join(store, t) for t in _STORE_TABLES]

    def gold_snapshot() -> set:
        return {tuple(r) for r in spark.read.parquet(os.path.join(store, "gold")).collect()}

    def one_fold(k: int) -> float:
        day = gen.day_name(hist_days + k)
        gold_before = gold_snapshot() if ctx.traced else None
        files_before = file_states(*tables, ckpt)
        released = time.perf_counter()
        os.rename(os.path.join(stage, day), os.path.join(live, day))
        with tr.span("streaming.ingest"):
            q = gold_upsert.maintain_gold_daily_stream(
                ingest.read_event_stream(spark, live_glob), store, ckpt
            )
            tr.add_group("streaming.ingest", str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        freshness = time.perf_counter() - released
        progress.extend(p for p in q.recentProgress if p["numInputRows"])
        in_store = file_states(*tables)
        fold_bytes.append(bytes_written(files_before, {**in_store, **file_states(ckpt)}))
        rewrite.append(bytes_written(files_before, in_store) / sum(st[2] for st in in_store.values()))
        if ctx.traced:
            changed_dates.append(len({r[0] for r in gold_before ^ gold_snapshot()}))
        return freshness

    gold_upsert.upsert_gold_batch = traced_fold
    try:
        # freshness: from the file's release to gold reflecting it
        res.op_s, res.op_cpu_s, res.failed = closed_loop(ctx, one_fold, releases)
    finally:
        gold_upsert.upsert_gold_batch = fold
    n_ok = len(res.op_s)
    res.attempted = n_ok + res.failed
    folded = range(hist_days, hist_days + res.attempted)
    res.items = sum(len(files[d]) + len(bad[d]) for d in folded)
    res.bytes_in = sum(du(os.path.join(live, gen.day_name(d))) for d in folded)
    res.bytes_written = sum(fold_bytes)

    # convergence contract: the maintained gold equals a batch build over
    # every event landed so far (the silver frames are materialized inside
    # their span so a traced run splits the work between the layers). The
    # skip count and the dimension build feed per-layer metrics only (the
    # history build checks both), so untraced runs skip them
    t_check = time.perf_counter()
    con = oracle.connect(ctx.cores)
    with tr.span("sources"):
        raw = readers.read_jsonl_events(
            spark, [os.path.join(cached, "landing", "*", "events.jsonl"), live_glob]
        )
        if ctx.traced:
            tr.extra["sources.skipped_records"] = readers.skip_count(raw)
        events = readers.valid_events(raw)
    with tr.span("plans.silver"):
        o, p, r = (_SILVER[t](events).localCheckpoint() for t in _STORE_TABLES[:3])
    if ctx.traced:
        # checkpoints count no output records; count them here, untimed
        tr.add_rows("plans.silver", rows_out=sum(df.count() for df in (o, p, r)))
        with tr.span("plans.dimensions"):
            customers = dimensions.build_dim_customer(o).count()
        res.checks["dim_customer_rows"] = customers == con.execute(
            f"SELECT count(DISTINCT customer_id) FROM {oracle.pq(os.path.join(store, 'orders'))}"
        ).fetchone()[0]
    with tr.span("plans.gold"):
        batch = oracle.gold_rows(gold.build_fact_order_daily(o, p, r).collect())
    maintained = oracle.read_gold(con, os.path.join(store, "gold"))
    res.checks["gold_fold_equals_batch"] = oracle.gold_equal(maintained, batch)
    res.checks["gold_duckdb_replay"] = oracle.gold_equal(maintained, oracle.replay_gold(con, store))
    check_s = time.perf_counter() - t_check

    # the read side of the maintained tables: a seeded mix of analyst
    # templates, one per layer they call into (so a traced run always
    # covers plans.gold and plans.quality), each Spark result against
    # DuckDB over the same parquet
    s = queries.Store(spark, store, fx_csv)
    rng = random.Random(ctx.seed)
    q_ms = {}
    mix = [
        rng.choice(sorted(n for n, (layer, _) in queries.TEMPLATES.items() if layer == group))
        for group in ("plans.gold", "plans.quality", None)
    ]
    for name in mix:
        layer, template = queries.TEMPLATES[name]
        res.attempted += 1
        got, want, tol = template(s, con, rng)
        t_q = time.perf_counter()
        try:
            with tr.span(layer) if layer else contextlib.nullcontext():
                rows = got()
        except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            res.failed += 1
            res.checks[f"query.{name}"] = False
            continue
        q_ms[name] = round((time.perf_counter() - t_q) * 1000, 1)
        res.checks[f"query.{name}"] = oracle.rows_equal(rows, want(), tol)
    con.close()

    for key in ("addBatch", "queryPlanning", "walCommit"):
        tr.extra[f"streaming.ingest.{key}_ms"] = sum(p["durationMs"].get(key, 0) for p in progress)
    tr.extra["streaming.gold_upsert.affected_dates"] = sum(changed_dates)
    tr.extra["streaming.gold_upsert.rewrite_ratio"] = statistics.median(rewrite) if rewrite else 0.0
    res.detail = {
        "convergence_check_s": round(check_s, 3),
        "history_events": sum(len(files[d]) for d in range(hist_days)),
        "events_per_release": [len(files[d]) + len(bad[d]) for d in folded],
        "freshness_s": [round(x, 4) for x in res.op_s],
        "query_ms": q_ms,
    }
    return res


# --------------------------------------------------------- corpus_curation


# The operators clean-corpus calls on its default path, by layer. The
# command materializes only a few frames, outside any layer, so a traced
# run wraps each of these: the call runs in its layer's span and its
# DataFrame result is materialized there. Untraced runs leave them alone.
_CORPUS_CALLS = {
    "operators.text": (tx, ("scrub", "quality_score")),
    "operators.dedup": (dd, ("exact_dedup", "minhash_star_edges")),
    "operators.graph": (graph, ("dedup_clusters", "keep_best_per_cluster")),
    "operators.sampling": (sampling, ("deterministic_sample",)),
    "operators.packing": (packing, ("pack_sequences", "packed_windows")),
}


@contextlib.contextmanager
def spanned_calls(tr, outputs: list):
    """Wrap the ``_CORPUS_CALLS`` functions for a traced run; each call's
    (layer, function name, materialized result) is appended to
    ``outputs``."""

    def wrap(layer, fn):
        def call(*args, **kw):
            with tr.span(layer):
                out = fn(*args, **kw).localCheckpoint(eager=True)
            outputs.append((layer, fn.__name__, out))
            return out

        return call

    saved = [(m, name, getattr(m, name)) for m, names in _CORPUS_CALLS.values() for name in names]
    for layer, (module, names) in _CORPUS_CALLS.items():
        for name in names:
            setattr(module, name, wrap(layer, getattr(module, name)))
    try:
        yield
    finally:
        for module, name, fn in saved:
            setattr(module, name, fn)


def corpus_curation(ctx) -> Result:
    """One operation = the program's ``clean-corpus`` command (default
    path: operators.text scrub -> operators.dedup exact + MinHash star
    edges -> operators.graph components and keep-best ->
    operators.sampling -> operators.packing) over seeded documents with
    planted duplicate families."""
    from commercepulse_data_pipeline_spark import cli

    tr, size = ctx.tracer, ctx.spec["corpus_curation"]
    res = Result()
    t0 = time.perf_counter()
    rows, exact_fams, near_fams = gen.corpus_docs(
        ctx.seed, size["docs"], size["exact_families"], size["near_families"], size["family_size"]
    )
    docs_path = os.path.join(ctx.work, "docs.parquet")
    ids, texts, sources = zip(*rows)
    papq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts, "source": sources}),
        docs_path,
    )
    res.setup_s = time.perf_counter() - t0
    capacity = size["capacity"]
    argv = ["--docs", docs_path, "--sample-rate", str(size["sample_rate"]),
            "--capacity", str(capacity), "--salt", "bench:"]
    done: list[str] = []

    def one_pass(k: int) -> None:
        out = os.path.join(ctx.work, f"curated{k}")
        # the command reuses this run's session (getOrCreate) and prints
        # a summary line; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            rc = cli.main(["clean-corpus", *argv, "--out", out])
        if rc != 0:
            raise RuntimeError(f"clean-corpus exited {rc}")
        done.append(out)

    outputs: list = []
    with spanned_calls(tr, outputs) if ctx.traced else contextlib.nullcontext():
        res.op_s, res.op_cpu_s, res.failed = closed_loop(ctx, one_pass)
    if ctx.traced:
        # checkpoints count no output records; count them here, untimed
        for layer, _, df in outputs:
            tr.add_rows(layer, rows_out=df.count())
        # candidate pairs the MinHash banding proposes vs the pairs whose
        # exact shingle Jaccard confirms them; untimed
        exact = [df for _, name, df in outputs if name == "exact_dedup"][-1]
        cand = dd.minhash_candidate_pairs(exact, "text", "doc_id")
        n_cand = cand.count()
        confirmed = cand.join(
            dd.ngram_jaccard_pairs(exact, "text", "doc_id", threshold=0.5), ["id_a", "id_b"]
        ).count()
        tr.extra["operators.dedup.pair_yield"] = confirmed / n_cand if n_cand else 0.0
    n_ok = len(res.op_s)
    res.attempted = n_ok + res.failed
    res.items = len(rows) * n_ok
    res.bytes_in = os.path.getsize(docs_path) * n_ok
    res.bytes_written = sum(du(p) for p in done)

    con = oracle.connect(ctx.cores)
    out = done[-1]
    kept = {r[0] for r in con.execute(f"SELECT doc_id FROM {oracle.pq(os.path.join(out, 'corpus'))}").fetchall()}
    max_fill = con.execute(
        f"SELECT max(window_tokens) FROM {oracle.pq(os.path.join(out, 'windows'))}"
    ).fetchone()[0]
    con.close()
    res.checks["kept_subset_of_input"] = kept <= set(ids)
    res.checks["exact_families_collapsed"] = all(len(kept & set(f)) <= 1 for f in exact_fams)
    res.checks["near_families_collapsed"] = all(len(kept & set(f)) <= 1 for f in near_fams)
    res.checks["windows_within_capacity"] = max_fill is not None and max_fill <= capacity
    res.detail = {"docs": len(rows), "kept": len(kept)}
    return res


WORKLOADS = {
    "daily_incremental": daily_incremental,
    "corpus_curation": corpus_curation,
}
