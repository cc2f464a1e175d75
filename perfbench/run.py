"""CommercePulse benchmark: one command per workload run.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 1 --trace 0

Runs from the root of a checkout of this repository. It builds the
workload's inputs from ``--seed``, starts one local SparkSession sized to
the machine (all cores, a quarter of physical memory up to 4 GiB of driver
heap), times the workload's operations for ``--seconds`` (at least one
operation), checks the outputs and prints, as the last line of standard
output, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
tags every layer call with a Spark job group and reports the per-layer
metrics read back from Spark's status store. The line before it holds the
workload's details (sizes, session sizing, per-check results).

Workloads, sizes and the layer -> end-to-end metric map are in
``perfbench/spec.json``. Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed when the run ends,
except the pre-built stores in ``.perfbench_work/cache`` (see
``workloads.build_history``).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import workloads  # noqa: E402  (imports the program: fails outside a checkout)
from tracing import Tracer, per_layer_metrics  # noqa: E402

from commercepulse_data_pipeline_spark.session import get_spark  # noqa: E402

_MB = 1024 * 1024


def machine() -> tuple[int, int]:
    """(cores this process may use, physical memory in bytes)."""
    cores = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            phys = min(phys, int(limit))
    except OSError:
        pass
    return cores, phys


def start_session(work: str, cores: int, driver_mb: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the JVMs (spark-submit's launcher and the driver) and the Python
    # workers the driver forks inherit these, so nothing lands outside
    # the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{driver_mb}m",
            # no hsperfdata file: HotSpot writes it to /tmp whatever the
            # tmpdir. C1 only and the serial collector: every run is a
            # fresh, short-lived JVM with a small heap, and on a 4-core box
            # C2's compiler threads doubled a cold fold's CPU time (~110 s
            # -> ~52 s with C1); parallel GC workers spinning under host
            # CPU steal widened its run-to-run spread
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or gateway.proc is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired; never leave it running
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-history", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)["workloads"]
    cores, phys = machine()
    driver_mb = max(1024, min(4096, phys // 4 // _MB))
    root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    build_s = 0.0
    if (
        args.workload == "daily_incremental"
        and not args.build_history
        and not os.path.exists(workloads.history_path(root, spec))
    ):
        # the store is built by a JVM of its own: the timed fold of every
        # run, this one included, runs on a fresh JVM
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), *(argv or sys.argv[1:]), "--build-history"],
            stdout=sys.stderr, check=True,
        )
        build_s = time.perf_counter() - t0
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores, driver_mb)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace), cores)
        ctx = types.SimpleNamespace(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
            traced=bool(args.trace), cores=cores, work=work, spec=spec,
            cpu=lambda: workloads.cpu_seconds(spark.sparkContext._gateway.proc.pid),
        )
        if args.build_history:
            workloads.build_history(ctx)
            return 0
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        layer = tracer.metrics() if args.trace else None
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    op = statistics.median(res.op_s)
    if args.trace:
        layer["trace.run_s"] = op
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in per_layer_metrics()}
    else:
        metrics = {
            "op_cpu_s": {"value": statistics.median(res.op_cpu_s), "unit": "s"},
            "write_amp": {"value": res.bytes_written / res.bytes_in, "unit": "ratio"},
            "setup_s": {"value": session_s + res.setup_s, "unit": "s"},
        }
    correct = bool(res.checks) and all(res.checks.values())
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "physical_memory_mb": phys // _MB,
        "driver_memory_mb": driver_mb,
        "session_start_s": round(session_s, 3),
        "history_build_s": round(build_s, 3),
        # wall-clock figures: on a shared 4-core box their run-to-run
        # spread is too wide to gate on (see spec.json)
        "latency_p50_s": op,
        "items_per_s": res.items / sum(res.op_s),
        "op_s": [round(x, 4) for x in res.op_s],
        "op_cpu_s": [round(x, 4) for x in res.op_cpu_s],
        # JVM heap growth makes this spread too wide to gate on
        "peak_rss_mb": round(rss, 1),
        "error_rate": res.failed / res.attempted,
        "correct": int(correct),
        "checks": res.checks,
        **res.detail,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
