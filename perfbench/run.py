"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload bulk_raw --seed 1 --seconds 18 --trace 0

Run it from the root of a checkout. It generates the inputs from the
seed, imports the program, starts Spark and sets the workload up
(``setup_s``), runs the closed loop for a number of settle units and
then one measured window, and checks every output against an independent
oracle. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``; the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
follows the untraced window with a window that has the layers' entry
points wrapped and a third untraced one, and prints the layer report
and the tracing overhead above the JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
from time import perf_counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk_raw", "query_mix")
# Spark cores on a 4-core host: one core is left to the driver. bulk_raw
# runs driver-side Python on every slot thread (gzip, md5, manifests,
# py4j), and on 3 cores it was faster (0.54 against 0.51 jobs/s) and
# steadier (quartile spread 5% against 8% over seeds). query_mix waits
# on the driver between its 58 Spark jobs a pass; in five pairs of runs
# alternating 3 and 4 cores, 3 was faster in four and its quartile
# spread was 20% against 40%.
CORES = 3
# Unmeasured units before the window. The JVM and the Python workers
# warm up for a long time: after a 6 s settle, throughput still rose
# 10-25% from one window to the next, and query_mix passes kept getting
# faster for about 40 s. Counting units, not seconds, gives every run
# the same warm-up work however fast the host is at the time (15-20 s
# here; more would not fit the run budget).
SETTLE_UNITS = 8
# A run must end within 180 s; past this the watchdog stops Spark and
# exits without a result.
WATCHDOG_S = 170


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, cores: int) -> None:
    """Keep every file Spark, the engine and the rows write inside
    ``work``; give executors' Python workers the checkout on their path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_spark(work: str, cores: int):
    from hyppo_worker_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={work}"
            ),
        },
    )


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_jvm() -> None:
    """Close the gateway's stdin (the JVM exits on EOF) and wait."""
    proc = jvm_proc()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def peak_rss_mb() -> float:
    """Peak resident memory of the Python driver plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def job_floor(spark) -> float:
    """Min wall of a trivial one-stage job, as ``bench.py`` probes it."""
    best = float("inf")
    for _ in range(3):
        t0 = perf_counter()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        best = min(best, perf_counter() - t0)
    return best


def import_program(workload: str) -> None:
    """First import of PySpark and of the modules the workload drives."""
    import hyppo_worker_spark.session  # noqa: F401

    if workload == "query_mix":
        from hyppo_worker_spark.queries import load_all

        load_all()
    else:
        import perfbench.engine_load  # noqa: F401


def build(workload: str, spark, inp, work: str, seed: int):
    if workload == "query_mix":
        from perfbench.querymix import QueryMix

        return QueryMix(spark, ROOT, inp.tables_dir, seed)
    from perfbench.engine_load import EngineLoad

    engine_dir = os.path.join(work, "engine")
    os.makedirs(engine_dir)
    return EngineLoad(spark, inp, engine_dir, journal=os.path.join(engine_dir, "queue.journal"))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hyppo_worker_spark")):
        print(f"no hyppo_worker_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, CORES)

    def expire():
        print(f"run exceeded {WATCHDOG_S} s; stopping", file=sys.stderr, flush=True)
        proc = jvm_proc()
        if proc is not None:
            proc.kill()
        os._exit(3)

    watchdog = threading.Timer(WATCHDOG_S, expire)
    watchdog.daemon = True
    watchdog.start()
    try:
        result = run(args, work)
    finally:
        stop_jvm()
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, work: str) -> dict:
    from perfbench import inputs, report
    from perfbench.stats import failed_share

    inp = inputs.generate(args.workload, args.seed, os.path.join(work, "inputs"))

    # setup_s: from here (inputs already on disk) to the first timed
    # item: the first import of the program, JVM launch, session,
    # workload build and warm-up.
    t0 = perf_counter()
    import_program(args.workload)
    t1 = perf_counter()
    spark = start_spark(work, CORES)
    spark_start_s = perf_counter() - t1
    load = build(args.workload, spark, inp, work, args.seed)
    load.warm_up()
    setup_s = perf_counter() - t0

    # Harness actions run under their own job group (the engine does
    # not clear its group on the thread that ran an item).
    spark.sparkContext.setJobGroup("perfbench", "harness")
    # The host's speed drifts between runs; the one-stage job floor,
    # probed before and after the windows, shows by how much.
    floor_before = job_floor(spark)
    # Settle units are not measured but are still checked.
    untraced, latency, _ = report.window(load, args.seconds, SETTLE_UNITS)
    untraced["setup_s"] = setup_s
    metrics = untraced
    if args.trace:
        traced, layers, lines = report.traced_window(load, args.seconds)
        # Compare the traced window with the mean of the untraced
        # windows before and after it, so a warm-up trend cancels out.
        after, _, _ = report.window(load, args.seconds)
        key = "unit_latency_p50_s"
        layers["trace.overhead_share"] = 2 * traced[key] / (untraced[key] + after[key]) - 1
    floor_after = job_floor(spark)
    print(
        f"setup_s={setup_s:.3f} (import {t1 - t0:.3f}, spark start {spark_start_s:.3f})\n"
        f"unit_latencies_s={[round(x, 2) for x in latency]}\n"
        f"job_floor_s before={floor_before:.4f} after={floor_after:.4f}"
    )
    if args.trace:
        layers["session.spark_start_s"] = spark_start_s
        layers["session.job_floor_s"] = min(floor_before, floor_after)
        layers["session.peak_rss_mb"] = peak_rss_mb()
        report.print_report(args.workload, untraced, latency, traced, after, layers, lines)
        metrics = layers
    failed, attempted = report.check(load)
    load.close()
    spark.stop()
    print(f"failed_share={failed_share(failed, attempted):.4f} ({failed} of {attempted})")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": report.with_units(metrics),
    }


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
