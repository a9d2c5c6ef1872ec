"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily_load --seed 1 --seconds 3 --trace 0

Run from the repository root.  One process, one Spark session on
``local[<cpus>]``, one closed-loop client: set-up (session start,
warm-up, fixtures, the first checked operation), then operations back
to back for ``--seconds``.  Every operation's output is checked against
the seeded generator's truth.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
traced run first repeats the untraced window, then measures a traced
one, and reports their ratio as ``trace.overhead_ratio``.

Exit status: 0 when every check passed, 1 when a check failed (the
JSON line is still printed), 2 when the program cannot be run at all.
A run's files go to a fresh directory under ``.perfbench/`` that is
removed at exit; what stays is the JVM class archive
(``.perfbench/classes.jsa``, see ``_environment``) and the spans of
traced runs (``.perfbench/traces``).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_tiki_webscraping_spark"
# workload name -> (module, class) under perfbench/
WORKLOADS = {
    "etl_daily_load": ("perfbench.etl", "EtlDailyLoad"),
    "warehouse_analytics": ("perfbench.analytics", "WarehouseAnalytics"),
    "corpus_dedup_search": ("perfbench.corpus", "CorpusDedupSearch"),
}
STOP_TIMEOUT_S = 60.0


def _metric_units() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(name, unit) of the end-to-end and of the per-layer metrics, in
    the order BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


CLASS_ARCHIVE = os.path.join(ROOT, ".perfbench", "classes.jsa")


def _environment(work: str) -> None:
    """Set before the package or Spark is imported: the package reads
    SPARK_GRAFT_CPUS at import, and Python workers inherit PYTHONPATH
    from the JVM, so they import the package and the fetchers whatever
    the working directory is.

    The JVM uses class-data sharing: the first run in a checkout
    records the classes its JVM loads into ``CLASS_ARCHIVE``, and later
    runs, of any workload, map that archive instead of loading those
    classes from Spark's jars, which takes ~6 s off session start on 4
    cores.  The archive allows no non-empty directory on the class
    path, so Spark reads its configuration from an empty directory
    (Spark's own conf directory holds only templates)."""
    conf = os.path.join(ROOT, ".perfbench", "spark-conf")  # on the class path, so the same in every run
    for d in (conf, *(os.path.join(work, d) for d in ("spark-local", "tmp", "spark-warehouse"))):
        os.makedirs(d, exist_ok=True)
    cds = (f"-XX:SharedArchiveFile={CLASS_ARCHIVE}" if os.path.exists(CLASS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={os.path.join(work, 'classes.jsa')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData {cds}"


def _stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait until it and
    every Python worker it forked have exited."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if gateway.proc is not None:
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(STOP_TIMEOUT_S)
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _report(correct: bool, attempted: int, failed: int, metrics: dict, units: list) -> None:
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units},
    }))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None or not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        print(f"perfbench: package {PACKAGE} or BENCHMARK.json not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        return _run(args, work)
    finally:
        recorded = os.path.join(work, "classes.jsa")  # complete: the JVM has exited
        if os.path.exists(recorded):
            os.replace(recorded, CLASS_ARCHIVE)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    t0 = time.perf_counter()
    from etl_tiki_webscraping_spark.session import get_spark, stop_spark

    from perfbench import layers
    from perfbench.measure import RssSampler, end_to_end, run_window
    from perfbench.trace import Tracer

    end_to_end_units, per_layer_units = _metric_units()
    spark = get_spark("perfbench")
    try:
        spark.range(1).count()
        module, cls = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(module), cls)(spark, args.seed, work)
        setup_failures = wl.setup()
        setup_s = time.perf_counter() - t0
        for f in setup_failures:
            print(f"perfbench: set-up check failed: {f}", file=sys.stderr)

        # the untraced window; the traced run also samples memory in it
        with RssSampler() if args.trace else nullcontext() as rss:
            window = run_window(wl.op, args.seconds)
        ops = list(window)
        if args.trace == 0:
            metrics, units = end_to_end(setup_s, window), end_to_end_units
        else:
            tracer = Tracer(spark)
            first_job = tracer.last_job_id() + 1
            layers.install(tracer, wl)
            try:
                traced = run_window(wl.op, args.seconds)
            finally:
                tracer.unwrap_all()
            ops += traced
            metrics = layers.collect(tracer, wl, first_job, len(traced), [n for n, _ in per_layer_units])
            untraced_s = statistics.median(o.seconds for o in window)
            traced_s = statistics.median(o.seconds for o in traced)
            metrics.update({"trace.untraced_op_s": untraced_s, "trace.traced_op_s": traced_s,
                            "trace.overhead_ratio": traced_s / untraced_s,
                            "session.peak_rss_mb": rss.peak_kb / 1024})
            units = per_layer_units
            out = os.path.join(os.path.dirname(work), "traces")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}.json"))
    finally:
        stop_spark()
        _stop_jvm()

    failed = sum(1 for o in ops if o.failures) + (1 if setup_failures else 0)
    for o in ops:
        for f in o.failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
    _report(failed == 0, len(ops) + 1, failed, metrics, units)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
