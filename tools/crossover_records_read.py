"""Time the two read paths of a jar-free ``.avro`` records dataset
against its size, to place ``storage.LOCAL_READ_MAX_BYTES``.

- driver: ``read_records`` reads each part file once on the driver,
  checks the manifest over those bytes, decodes them and hands Spark an
  Arrow local relation;
- spark: ``read_records`` hashes the files on the driver in chunks,
  then Spark scans them (``binaryFile``) and decodes them in Python
  workers (``mapInArrow``).

For each size (MiB, default 0.25 1 2 4 8 64 256) one dataset is written through
``DataFileHandler.write_records`` (avro-py, deflate, 3 part files) with
records shaped like the ``bulk_raw`` benchmark's plus a 64-char hex
payload, so the bytes do not deflate away. Each path then runs in its
own fresh process, ``REPS`` times: ``read_records`` and a parquet write
of the result (the persist shape of op 6). A fresh process per path
keeps the peak RSS figures apart: ``python_peak_mb`` is the driver's
Python process, ``jvm_peak_mb`` the driver JVM (``VmHWM``).

Prints one JSON line per (size, path) — a run that fails (the driver
JVM running out of heap, say) prints its error instead — and a last
line with the sizes at which the driver path wins — its best of
``REPS`` rounds at most ``WIN`` times the Spark path's, so a tie within
noise is not a win — and the gate they imply: the largest size at which
the driver path wins, with no loss at a smaller size.

Usage: python tools/crossover_records_read.py [MiB ...]
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORES = 3
PARTS = 3
REPS = 5
WIN = 0.9
SAMPLE_RECORDS = 20_000
PATHS = {"driver": float("inf"), "spark": 0}


def _spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CORES))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from hyppo_worker_spark.session import get_spark

    spark = get_spark("crossover-records-read")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _handler(spark, root: str):
    from hyppo_worker_spark.storage import DataFileHandler, StorageLayout

    return DataFileHandler(spark, StorageLayout(bucket=root), records_fmt="avro-py")


def _records(spark, n: int):
    from pyspark.sql import functions as F

    return (
        spark.range(n, numPartitions=PARTS)
        .select(
            F.col("id"),
            F.concat(F.lit("k"), (F.col("id") % 997).cast("string")).alias("key"),
            (F.col("id") % 13).alias("qty"),
            (F.col("id") * 7919 % 100_003).alias("amount"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
    )


def build(mib: float, root: str) -> None:
    """Write a ~``mib`` MiB dataset; print its manifest as JSON."""
    from hyppo_worker_spark.model import (
        DataIngestionJob,
        DataIngestionTask,
        IngestionSource,
    )

    spark = _spark()
    h = _handler(spark, root)
    task = DataIngestionTask(
        job=DataIngestionJob(source=IngestionSource(name="crossover")), task_number=1
    )
    sample = h.write_records(task, _records(spark, SAMPLE_RECORDS))
    n = max(1, int(mib * 2**20 * SAMPLE_RECORDS / sample.file_size))
    m = h.write_records(task, _records(spark, n))
    print(
        json.dumps(
            {
                "bucket": m.location.bucket,
                "key": m.location.key,
                "file_size": m.file_size,
                "checksum": m.checksum,
                "record_count": m.record_count,
            }
        )
    )
    spark.stop()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def read(path_name: str, manifest_json: str, out: str) -> None:
    """Time ``REPS`` read + parquet-write rounds on one path."""
    from hyppo_worker_spark import storage as S
    from hyppo_worker_spark.model import RemoteProcessedDataFile, RemoteStorageLocation

    m = json.loads(manifest_json)
    manifest = RemoteProcessedDataFile(
        location=RemoteStorageLocation(m["bucket"], m["key"]),
        file_size=m["file_size"],
        checksum=m["checksum"],
        record_count=m["record_count"],
    )
    spark = _spark()
    S.LOCAL_READ_MAX_BYTES = PATHS[path_name]
    h = _handler(spark, m["bucket"])
    reads, walls = [], []
    for i in range(REPS):
        t0 = time.perf_counter()
        df = h.read_records(manifest)
        t1 = time.perf_counter()
        df.write.mode("overwrite").parquet(os.path.join(out, f"p{i}"))
        t2 = time.perf_counter()
        reads.append(t1 - t0)
        walls.append(t2 - t0)
    rows = spark.read.parquet(os.path.join(out, "p0")).count()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    print(
        json.dumps(
            {
                "mib": round(manifest.file_size / 2**20, 1),
                "records": manifest.record_count,
                "path": path_name,
                "read_records_s": [round(x, 3) for x in reads],
                "read_and_persist_s": [round(x, 3) for x in walls],
                "min_s": round(min(walls), 3),
                "python_peak_mb": round(
                    resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                ),
                "jvm_peak_mb": round(_vm_hwm_mb(jvm_pid)),
                "rows_ok": rows == manifest.record_count,
            }
        )
    )
    spark.stop()


def _last_json(args: list[str]) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True,
        text=True,
    )
    if res.returncode:
        tail = (res.stderr.strip().splitlines() or ["no output"])[-1]
        return {"error": f"exit {res.returncode}: {tail[:200]}"}
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> None:
    sizes = [float(a) for a in sys.argv[1:]] or [0.25, 1, 2, 4, 8, 64, 256]
    work = tempfile.mkdtemp(prefix="hyppo-crossover-read-")
    times: dict[float, dict[str, float]] = {}
    try:
        for mib in sizes:
            root = os.path.join(work, f"m{mib}")
            manifest = _last_json(["--build", str(mib), root])
            for name in PATHS:
                r = _last_json(
                    ["--read", name, json.dumps(manifest), os.path.join(root, name)]
                )
                print(json.dumps({"target_mib": mib, "path": name, **r}), flush=True)
                times.setdefault(mib, {})[name] = r.get("min_s", float("inf"))
            shutil.rmtree(root, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wins = [m for m, t in sorted(times.items()) if t["driver"] <= WIN * t["spark"]]
    losses = sorted(m for m in times if m not in wins)
    below = [m for m in wins if not losses or m < losses[0]]
    print(
        json.dumps(
            {
                "driver_faster_at_mib": wins,
                "driver_slower_at_mib": losses,
                "gate_mib": max(below) if below else None,
            }
        )
    )


if __name__ == "__main__":
    if sys.argv[1:2] == ["--build"]:
        build(float(sys.argv[2]), sys.argv[3])
    elif sys.argv[1:2] == ["--read"]:
        read(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        main()
