"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints a summary of every metric, with
its unit and sample count, on standard error, and as the last line of
standard output one JSON object::

    {"correct": true, "attempted": n, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics of
the traced run (see ``perfbench/workloads.py``). Inputs are cached and
scratch files written under ``.perfbench/`` in the checkout.

End-to-end metrics, per workload:

- ``setup_s``: session start through the first execution of the
  workload's operation, whose output the checks read (input generation
  excluded);
- ``wall_s``: on extract_batch the median wall time of one measured
  pass (one extraction run to noop); on query_mix the sum over the
  queries of each query's median build-plus-execute time;
- ``cpu_s``: median CPU seconds of one pass, over the process tree
  (the Spark JVM and every Python worker, exited ones included).

Passes repeat until ``--seconds`` have passed and at least
``MIN_PASSES`` have run. The first pass after the first execution still
carries the JIT's warm-up: on a 4-core host it takes about 1.3x as long
as the third on query_mix and 1.15x on extract_batch, and varies more
from run to run. The median of three passes leaves it out, and leaves
out one pass slowed by other tenants of a shared host as well.

The log on standard error also gives each pass's throughput (documents
or queries per second) and the CPU time the hypervisor took from this
machine during it. Operations (documents, queries) that fail their
check are counted in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
MIN_PASSES = 3


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def measure(wl, seconds: float, work: str) -> dict:
    """Set-up, measured passes and checks; the end-to-end metrics."""
    from perfbench.procstat import steal_s, tree_cpu_s
    from perfbench.workloads import start_session

    t0 = time.perf_counter()
    spark = start_session(work)
    wl.warm_up(spark)
    setup_s = time.perf_counter() - t0
    _log(f"set-up {setup_s:.2f} s")

    passes = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        c0, s0 = tree_cpu_s(), steal_s()
        p = wl.one_pass(spark)
        p.cpu_s = tree_cpu_s() - c0
        p.steal_s = steal_s() - s0
        passes.append(p)
        _log(
            f"pass {len(passes)}: {p.wall_s:.2f} s wall, {p.cpu_s:.2f} CPU-s, "
            f"{p.steal_s:.2f} s stolen, "
            f"{p.ops / p.wall_s:.3f} operations/s"
        )
    attempted, failed = wl.check(spark, passes)
    spark.stop()

    values = {
        "setup_s": (setup_s, 1),
        "wall_s": (wl.wall_s(passes), len(passes)),
        "cpu_s": (statistics.median(p.cpu_s for p in passes), len(passes)),
    }
    for name, (v, n) in values.items():
        _log(f"{wl.name} {name} = {v:.4f} {E2E_UNITS[name]} (n={n})")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _) in values.items()
        },
    }


def traced(wl, work: str) -> dict:
    """One traced pass (and the workload's extra phases); the per-layer
    metrics. Layers the workload does not exercise read 0."""
    from perfbench.eventlog import EventLog
    from perfbench.procstat import PeakRss
    from perfbench.workloads import (
        PER_LAYER,
        CountingBackend,
        per_layer_unit,
        start_session,
    )

    events = os.path.join(work, "events")
    spark = start_session(work, events)
    sc = spark.sparkContext
    sc.setJobGroup("reference", "first execution")
    wl.warm_up(spark)
    # untimed: the traced pass is the second after the first execution,
    # as the median pass of a measured run usually is
    wl.one_pass(spark)
    pages, seconds = sc.accumulator(0), sc.accumulator(0.0)
    sc.setJobGroup("pass", "traced pass")
    rss = PeakRss().start()
    try:
        p = wl.one_pass(spark, CountingBackend(pages, seconds))
    finally:
        peak_rss = rss.stop()
    sc.setLocalProperty("spark.jobGroup.id", None)
    _log(f"traced pass {p.wall_s:.2f} s")
    attempted, failed = wl.check(spark, [p])

    parsed = []

    def log_of() -> EventLog:
        if not parsed:
            spark.stop()
            parsed.append(EventLog.read(events))
        return parsed[0]

    extra, extra_attempted, extra_failed = wl.layers(spark, log_of, work, p)
    attempted += extra_attempted
    failed += extra_failed
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update(log_of().layer_report(("pass",)))
    if pages.value:
        values["vision.pages"] = float(pages.value)
        values["vision.stub_s"] = seconds.value
    values.update(extra)
    values["trace.pass_wall_s"] = p.wall_s
    values["proc.peak_rss_mib"] = peak_rss
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    for name in PER_LAYER:
        _log(f"{wl.name} {name} = {values[name]:.4f} {per_layer_unit(name)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": values[k], "unit": per_layer_unit(k)} for k in PER_LAYER
        },
    }


def _stop_jvm() -> None:
    """Stop any Spark session and the Spark JVM, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pdf_to_xls_vision_spark")):
        print(
            f"perfbench: no engine package (pdf_to_xls_vision_spark) under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(work_root, "inputs")
    os.makedirs(cache, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=work_root)
    # everything Spark, its JVM and its Python workers write stays in the
    # checkout; the workers import the engine and this package from the
    # working directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        wl = WORKLOADS[args.workload](cache, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        _log(f"inputs ready in {time.perf_counter() - t0:.2f} s (not in set-up)")
        result = traced(wl, work) if args.trace else measure(wl, args.seconds, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
