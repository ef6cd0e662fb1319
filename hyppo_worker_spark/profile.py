"""What one Spark run did, read from Spark's in-process status store
(kept with ``spark.ui.enabled=false``; no event log).

``profile(spark, fn)`` runs ``fn`` with a fresh job tag, not a job
group: the caller's group (an engine work item's, which its watchdog
cancels) stays in force, and a streaming query started inside ``fn``
runs its micro-batches under its own group but inherits the tag.

As a script (``[--runs N] [--sf-dir D] row...``) it prints each row's
best run and its slowest jobs, taking the package from ``PYTHONPATH``
first, so it can profile another checkout's rows.
"""

from __future__ import annotations

import os
import sys

if __name__ == "__main__" and not __package__:
    # Run as a file: this directory, first on sys.path, would shadow the
    # stdlib ``profile`` that cProfile (imported by pyspark) loads.
    del sys.path[0]
    sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import json
import time
import uuid
from typing import Any, Callable

WARM_DIR = "/root/testdata/sf0.001"
_SUMS = {  # key -> (stage field, unit divisor)
    "executor_run_s": ("executorRunTime", 1e3),
    "executor_cpu_s": ("executorCpuTime", 1e9),
    "gc_s": ("jvmGcTime", 1e3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


def layers(jobs: list[dict], stage_attempts: Callable, t0: float, t1: float) -> dict:
    """The profile of a run over ``[t0, t1]`` (epoch seconds) from its
    ``jobs`` and ``stage_attempts(stage_id)`` (every attempt; none once
    retention evicted the stage), as Spark's REST API serves them.
    Raises rather than under-report when a job has not finished or a
    stage that ran is gone."""
    jobs = sorted(jobs, key=lambda j: j["jobId"])
    running = [j["jobId"] for j in jobs if j["completionTime"] is None]
    if running:
        raise RuntimeError(f"jobs {running} have not finished")
    ran: dict[int, list[dict]] = {}  # stage id -> its attempts that ran
    gone: set[int] = set()
    for job in jobs:
        for sid in set(job["stageIds"]) - set(ran):
            attempts = stage_attempts(sid)
            ran[sid] = [a for a in attempts if a["status"] != "SKIPPED"]
            if not attempts:
                gone.add(sid)
        # Retention evicts skipped stages before any that ran, so a job
        # missing more stages than it skipped lost one that ran.
        if len(gone & set(job["stageIds"])) > job["numSkippedStages"]:
            raise RuntimeError(
                f"a stage job {job['jobId']} ran is no longer in the status "
                "store (retention eviction)"
            )
    attempts = [a for atts in ran.values() for a in atts]
    union, end = 0.0, t0  # of the job intervals, clipped to the run
    for a, b in sorted(
        (max(j["submissionTime"] / 1e3, t0), min(j["completionTime"] / 1e3, t1))
        for j in jobs
    ):
        if b > max(a, end):
            union, end = union + b - max(a, end), b
    wall, union = round(t1 - t0, 3), round(union, 3)
    return {
        "wall_s": wall,
        "jobs": len(jobs),
        "stages": sum(1 for atts in ran.values() if atts),
        "tasks": sum(a[f"num{k}Tasks"] for a in attempts for k in ("Complete", "Failed", "Killed")),
        "job_union_s": union,
        "driver_gap_s": round(wall - union, 3),
        **{k: round(sum(a[f] for a in attempts) / div, 3) for k, (f, div) in _SUMS.items()},
        "job_sites": [[j["name"], (j["completionTime"] - j["submissionTime"]) / 1e3] for j in jobs],
    }


def profile(spark, fn: Callable[[], Any]) -> tuple[Any, dict]:
    """Run ``fn()`` with a fresh job tag and return its result with the
    :func:`layers` of the tagged jobs. The tag is removed whether ``fn``
    returns or raises; nothing else of the caller's changes."""
    sc = spark.sparkContext
    tag = f"profile-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    t0 = time.time()
    try:
        out = fn()
    finally:
        t1 = time.time()
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store lags the bus
    jvm, store = sc._jvm, sc._jsc.sc().statusStore()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(scala, "MODULE$"))

    def as_json(obj):  # one py4j call per record (list)
        return json.loads(mapper.writeValueAsString(obj))

    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    return out, layers(
        [j for j in as_json(store.jobsList(None)) if tag in j["jobTags"]],
        lambda sid: as_json(store.stageData(sid, False, None, False, no_quantiles)),
        t0, t1,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="profile.py")
    ap.add_argument("--runs", type=int, default=3)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap.add_argument("--sf-dir", default=sf_dir)
    ap.add_argument("rows", nargs="+")
    args = ap.parse_args(argv)

    from hyppo_worker_spark.queries import load_all
    from hyppo_worker_spark.session import clear_cache, get_spark

    registry = load_all()
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("FATAL")
    for row in args.rows:
        q = registry[row]

        def run(sf_dir=args.sf_dir):
            df = q.spark_fn(spark, sf_dir)
            return df.count() if df.isStreaming is False else -1

        if os.path.isdir(WARM_DIR):
            try:
                run(WARM_DIR)
            except Exception as e:  # noqa: BLE001 - only the warm-up is lost
                print(f"warmup {row} failed: {type(e).__name__}", file=sys.stderr)
            clear_cache(spark, include_rdd_blocks=True)
        runs = []
        for _ in range(args.runs):
            runs.append(profile(spark, run)[1])
            clear_cache(spark, include_rdd_blocks=True)
        best = min(runs, key=lambda p: p["wall_s"])
        print(f"{row}: {best['wall_s']:.3f}s  jobs/run={best['jobs']}")
        for site, s in sorted(best["job_sites"], key=lambda js: -js[1])[:10]:
            print(f"  {s:8.3f} s  {site}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
