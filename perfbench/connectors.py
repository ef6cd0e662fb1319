"""The benchmark's own connectors: thin user code over generated
inputs, so that engine overhead dominates what the workloads time."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyppo_worker_spark.model import DataIngestionJob, DataIngestionTask
from hyppo_worker_spark.registry import RawDataIntegration

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("amount", T.LongType()),
    ]
)


def gunzip_lines(blob: bytes) -> list[str]:
    return gzip.decompress(bytes(blob)).decode().splitlines()


def output_dir(root: str, task: DataIngestionTask) -> str:
    return os.path.join(root, f"job-{task.job.id}", f"task-{task.task_number}")


class BulkFeed(RawDataIntegration):
    """Raw pull: tasks come from ``job.configuration["files"]``, one
    JSON-lines payload per task. The parse runs over the engine's
    ``binaryFile`` rows through a Python UDF (gunzip + split) and
    ``from_json``; persist writes each task's records to its own
    directory under ``out_root`` for the oracle check."""

    source_name = "perfbench bulk feed"

    def __init__(self, out_root: str):
        self.out_root = out_root

    def record_schema(self) -> T.StructType:
        return RECORD_SCHEMA

    def create_tasks(self, job: DataIngestionJob):
        return [{"src": path} for path in job.configuration["files"]]

    def fetch_raw(self, task) -> list[bytes]:
        with open(task.task_arguments["src"], "rb") as fh:
            return [fh.read()]

    def process_raw(self, spark: SparkSession, task, raw_df: DataFrame) -> DataFrame:
        lines = F.udf(gunzip_lines, T.ArrayType(T.StringType()))
        text = raw_df.select(F.explode(lines("content")).alias("line"))
        return text.select(F.from_json("line", RECORD_SCHEMA).alias("r")).select("r.*")

    def persist(self, spark: SparkSession, task, records: DataFrame) -> None:
        records.write.mode("overwrite").parquet(output_dir(self.out_root, task))
