#!/usr/bin/env python3
"""Benchmark of the OpenAQ Spark pipeline and its query catalog.

    python3 perfbench/run.py --workload catalog_sweep --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json for why each
exists): ``catalog_sweep`` and ``openaq_daily``. The seed makes all inputs;
the program sees only the generated files.

A run sets up (Spark session, catalog import, input generation, one
untimed warm-up that also checks outputs), then times as many whole
passes of the workload as fit ``--seconds`` at the workload's nominal pass
time (at least one). ``--trace 0`` prints
the end-to-end metrics. ``--trace 1`` times the same passes untraced, then
restarts the Spark session with the event log on, times them again with
layer spans, and prints the per-layer metrics and the tracing overhead.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it lists ``fail_ratio`` and
every metric as ``name value unit``. All scratch data lives under
``.perfbench_tmp/`` in the checkout and is removed at exit; the span
dump of a traced run is kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "openaq_data_pipeline_spark"
RUN_LIMIT_S = 140  # leaves time to stop Spark within 180 s
# Below the package's 8g default: with an 8g cap the JVM heap of
# catalog_sweep grew to 3.5-5 GB as GC timing under CPU load varied, so
# peak_rss_mb measured the heap sizing policy more than the program.
DRIVER_MEMORY = "3g"
# The parallel collector with fixed generation sizes: G1 (the JVM default)
# grows its heap by measured GC pause time, so under CPU steal the driver
# heap of openaq_daily peaked at 1.6 GB in some runs and 2.1 GB in others
# and peak_rss_mb spread past its bound. Here the young generation is
# fixed and the old one grows only as live data after a full collection
# needs it, so peak memory follows what the program keeps.
DRIVER_GC_OPTIONS = "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms1g -Xmn600m"


class NoTrace:
    """Stand-in for :class:`layer_trace.Tracer` in untraced passes."""

    op = None

    def span(self, name):
        return nullcontext()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(tmp: str) -> dict[str, str]:
    """Point every scratch location of Spark, its Python workers and the
    package at ``tmp``; return the Spark confs that do the same."""
    for sub in ("spark-local", "tmp", "volatile", "jvm", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        {
            # Python workers import package code from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": os.path.join(tmp, "tmp"),
            "SPARK_GRAFT_VOLATILE_TMP": os.path.join(tmp, "volatile"),
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        }
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)  # the package, and tests.oracle_harness
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')} {DRIVER_GC_OPTIONS}"
        ),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def timed_passes(workload, spark, tracer, n_passes: int):
    """Run ``n_passes`` whole passes; return pass walls and op latencies.
    State resets between passes are not timed. Each pass starts after a
    full collection in the JVM and in Python, so that garbage the warm-up
    or an earlier pass left is not collected inside whichever op runs
    first."""
    walls, lat = [], []
    for _ in range(n_passes):
        workload.prepare_pass(spark)
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        t0 = time.perf_counter()
        lat += workload.run_pass(spark, tracer)
        walls.append(time.perf_counter() - t0)
    return walls, lat


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every process under it (Python workers included) has ended."""
    from pyspark import SparkContext

    from procmem import alive, tree_pids

    started = tree_pids(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 10
    while any(alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(alive(p) for p in started) and time.time() < deadline + 5:
        time.sleep(0.1)


def run(args, tmp: str):
    """Set up, time and check one workload; return it with its metrics
    as ``name -> (value, unit)``."""
    from procmem import PeakRss
    from workloads import WORKLOADS

    conf = configure_env(tmp)
    workload = WORKLOADS[args.workload](tmp, args.seed)

    t = time.perf_counter()
    from openaq_data_pipeline_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    session_start_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        from openaq_data_pipeline_spark.catalog import registry

        registry()
        registry_s = time.perf_counter() - t
        workload.setup(spark)
        setup_s = time.perf_counter() - T_START
        print(f"perfbench: session {session_start_s:.2f} s, registry {registry_s:.2f} s, "
              f"set-up {setup_s:.2f} s", file=sys.stderr)

        # a fixed pass count for the requested time keeps the work, and so
        # the JIT warm-up it includes, the same in every run
        n_passes = max(1, round(args.seconds / workload.pass_seconds))
        with PeakRss() as rss:
            walls, lat = timed_passes(workload, spark, NoTrace(), n_passes)
        print(f"perfbench: pass walls {[round(w, 3) for w in walls]}, "
              f"op latencies {[round(x, 3) for x in lat]}", file=sys.stderr)
        workload.check(spark)
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(walls), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
        }
        if not args.trace:
            return workload, metrics

        import layers
        from layer_trace import Tracer, parse_event_log

        stored = workload.stored_bytes() / workload.input_bytes() if workload.input_bytes() else 0.0
        spark.stop()  # a new context on the same, warm JVM
        log_dir = os.path.join(tmp, "eventlog")
        spark = get_spark(extra_conf={**conf, **event_log_conf(log_dir)})
        tracer = Tracer()
        ingested, merges = layers.install(tracer)
        try:
            traced_walls, _ = timed_passes(workload, spark, tracer, n_passes)
        finally:
            tracer.unbind_all()
        workload.check(spark)
    finally:
        stop_spark(spark)

    jobs = parse_event_log(log_dir)
    traced = layers.per_layer(workload, tracer, jobs, ingested, merges)
    traced.update(
        {
            "trace.overhead_s": (statistics.median(traced_walls) - metrics["wall_s"][0], "s"),
            "session.start_s": (session_start_s, "s"),
            "catalog.registry_s": (registry_s, "s"),
            "bytes_stored_per_input_byte": (stored, "ratio"),
            "fail_ratio": (workload.failed / max(1, workload.attempted), "ratio"),
        }
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}_seed{args.seed}_trace.json"), "w") as f:
        json.dump(
            {
                "spans": [s.__dict__ for s in tracer.spans],
                "jobs": [j.__dict__ for j in jobs],
                "metrics": {k: v[0] for k, v in traced.items()},
            },
            f,
        )
    return workload, traced


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_parent, str(os.getpid()))
    try:
        workload, metrics = run(args, tmp)
    finally:
        signal.alarm(0)
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isdir(tmp_parent) and not os.listdir(tmp_parent):
            os.rmdir(tmp_parent)
    for note in workload.notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    listing = {"fail_ratio": (workload.failed / max(1, workload.attempted), "ratio"), **metrics}
    print("; ".join(f"{k} {v:.6g} {u}" for k, (v, u) in listing.items()))
    print(
        json.dumps(
            {
                "correct": workload.failed == 0,
                "attempted": workload.attempted,
                "failed": workload.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
