"""Time the driver and Spark paths of the records zone against data
size, to place ``storage.LOCAL_READ_MAX_BYTES``: the one gate both
uses below share.

Records read (default mode) — the two read paths of a jar-free
``.avro`` records dataset:

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

Op 4 (``--op4``) — the two paths of ``op_process_raw_data`` over a
task's gzipped JSON-lines raw files (``bulk_raw``'s record shape,
parsed by a Python UDF + ``from_json`` connector, avro-py records):

- driver: each raw file read and checked once into an Arrow local
  relation, the records collected as Arrow and encoded on the driver;
- spark: each raw file hashed on the driver, scanned by ``binaryFile``
  and the records encoded by ``mapInArrow`` in Python workers.

For each gzipped raw size (MiB, default 0.125 0.25 0.5 1 2 4) split
over 1 and 4 raw files, each path runs in its own fresh process: one
upload, then op 4 ``OP4_REPS`` times, one task at a time.

Prints one JSON line per run — a run that fails (the driver JVM running
out of heap, say) prints its error instead — and last lines with the
sizes at which the driver path wins — its best of all rounds at
most ``WIN`` times the Spark path's, so a tie within noise is not a
win — and the gate they imply: the largest size at which the driver
path wins, with no loss at a smaller size.

Usage: python tools/crossover_records_read.py [MiB ...]
       python tools/crossover_records_read.py --op4 [MiB ...]
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
OP4_REPS = 10  # op 4 keeps warming up for longer
WIN = 0.9
SAMPLE_RECORDS = 20_000
PATHS = {"driver": float("inf"), "spark": 0}


def _spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CORES))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
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


def _feed():
    """``bulk_raw``'s connector shape: a Python UDF gunzips each raw
    file, ``from_json`` parses its lines."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hyppo_worker_spark.registry import RawDataIntegration

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("key", T.StringType()),
            T.StructField("qty", T.LongType()),
            T.StructField("amount", T.LongType()),
        ]
    )

    class Feed(RawDataIntegration):
        source_name = "crossover"

        def record_schema(self):
            return schema

        def create_tasks(self, job):
            return [{}]

        def fetch_raw(self, task):
            return []

        def process_raw(self, spark, task, raw_df):
            @F.udf(T.ArrayType(T.StringType()))
            def lines(blob):
                import gzip

                return gzip.decompress(bytes(blob)).decode().splitlines()

            text = raw_df.select(F.explode(lines("content")).alias("line"))
            return text.select(F.from_json("line", schema).alias("r")).select("r.*")

        def persist(self, spark, task, records):
            pass

    return Feed()


def _raw_payloads(mib: float, files: int) -> tuple[list[bytes], int]:
    """``files`` JSON-lines payloads that gzip to ~``mib`` MiB in all,
    and their record count."""
    import gzip

    import numpy as np

    rng = np.random.default_rng(7)

    def lines(first: int, n: int) -> bytes:
        keys = rng.integers(0, 64, n)
        qty = rng.integers(1, 100, n)
        amount = rng.integers(1, 1_000_000, n)
        return "".join(
            f'{{"id":{first + i},"key":"k{k:02d}","qty":{q},"amount":{a}}}\n'
            for i, (k, q, a) in enumerate(zip(keys, qty, amount))
        ).encode()

    per_record = len(gzip.compress(lines(0, SAMPLE_RECORDS), 6)) / SAMPLE_RECORDS
    n = max(1, int(mib * 2**20 / files / per_record))
    return [lines(f * n, n) for f in range(files)], n * files


def op4(path_name: str, mib: float, files: int, root: str) -> None:
    """Time ``OP4_REPS`` op-4 runs of one task on one path."""
    from hyppo_worker_spark import storage as S
    from hyppo_worker_spark.model import (
        DataIngestionJob,
        DataIngestionTask,
        IngestionSource,
        ProcessRawDataRequest,
    )
    from hyppo_worker_spark.operations import op_process_raw_data
    from hyppo_worker_spark.registry import IntegrationRegistry

    payloads, records = _raw_payloads(mib, files)
    spark = _spark()
    S.LOCAL_READ_MAX_BYTES = PATHS[path_name]
    h = _handler(spark, root)
    feed = _feed()
    registry = IntegrationRegistry()
    registry.register(feed)
    task = DataIngestionTask(
        job=DataIngestionJob(source=IngestionSource(name=feed.source_name)),
        task_number=1,
    )
    manifests = h.upload_raw(task, payloads)
    del payloads
    item = ProcessRawDataRequest(
        integration=feed.details(), task=task, files=tuple(manifests)
    )
    walls, counts = [], set()
    for _ in range(OP4_REPS):
        t0 = time.perf_counter()
        out = op_process_raw_data(spark, registry, h, item)
        walls.append(time.perf_counter() - t0)
        counts.add(out.data.record_count)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    print(
        json.dumps(
            {
                "raw_mib": round(sum(m.file_size for m in manifests) / 2**20, 3),
                "files": files,
                "records": records,
                "path": path_name,
                "op4_s": [round(x, 3) for x in walls],
                "min_s": round(min(walls), 3),
                "median_s": round(sorted(walls)[len(walls) // 2], 3),
                "python_peak_mb": round(
                    resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                ),
                "jvm_peak_mb": round(_vm_hwm_mb(jvm_pid)),
                "rows_ok": counts == {records},
            }
        )
    )
    spark.stop()


def _gate(times: dict[float, dict[str, float]]) -> dict:
    """The sizes the driver path wins and loses at, and the gate."""
    wins = [m for m, t in sorted(times.items()) if t["driver"] <= WIN * t["spark"]]
    losses = sorted(m for m in times if m not in wins)
    below = [m for m in wins if not losses or m < losses[0]]
    return {
        "driver_faster_at_mib": wins,
        "driver_slower_at_mib": losses,
        "gate_mib": max(below) if below else None,
    }


def main_op4() -> None:
    sizes = [float(a) for a in sys.argv[2:]] or [0.125, 0.25, 0.5, 1, 2, 4]
    work = tempfile.mkdtemp(prefix="hyppo-crossover-op4-")
    times: dict[int, dict[float, dict[str, float]]] = {}
    try:
        for files in (1, 4):
            for mib in sizes:
                for name in PATHS:
                    root = os.path.join(work, f"{files}-{mib}-{name}")
                    r = _last_json(["--op4-run", name, str(mib), str(files), root])
                    print(json.dumps({"target_mib": mib, **r}), flush=True)
                    cell = times.setdefault(files, {}).setdefault(mib, {})
                    cell[name] = r.get("min_s", float("inf"))
                    shutil.rmtree(root, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for files, by_size in times.items():
        print(json.dumps({"files": files, **_gate(by_size)}))


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
    print(json.dumps(_gate(times)))


if __name__ == "__main__":
    if sys.argv[1:2] == ["--build"]:
        build(float(sys.argv[2]), sys.argv[3])
    elif sys.argv[1:2] == ["--read"]:
        read(sys.argv[2], sys.argv[3], sys.argv[4])
    elif sys.argv[1:2] == ["--op4-run"]:
        op4(sys.argv[2], float(sys.argv[3]), int(sys.argv[4]), sys.argv[5])
    elif sys.argv[1:2] == ["--op4"]:
        main_op4()
    else:
        main()
