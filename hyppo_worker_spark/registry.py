"""Integration (connector) API + registry.

The reference loads integration classes by reflection in a sandboxed
executor JVM and type-checks them against two families
(``executor/.../cli/ExecutorCommandLoop.java:127-152``):
``RawDataIntegration`` (fetch raw bytes → process to records) and
``ProcessedDataIntegration`` (fetch typed records directly). Python
connectors run in-process; the registry pins them by (source name,
version) — the analog of jar pinning via queue names ``v-{n}``
(``QueueNaming.scala:47-51``).

Connector callbacks are the engine's UDF surface (SURVEY.md §2.4):
``create_tasks`` returns task parameter dicts (partition planning);
``fetch``/``process`` produce/transform DataFrames; ``persist`` is the
sink with declared ``PersistingSemantics``.
"""

from __future__ import annotations

import abc
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hyppo_worker_spark.model import (
    DataIngestionJob,
    DataIngestionTask,
    IntegrationDetails,
    IntegrationSchema,
    PersistingSemantics,
)
from hyppo_worker_spark.sources.avro_schema import struct_to_avro


class DataIntegration(abc.ABC):
    """Common connector contract (parity:
    ``ValidateIntegrationOperation.java:34-100`` checks schema +
    task-creator + persister constructibility)."""

    source_name: str
    version: int = 1
    persisting_semantics: PersistingSemantics = PersistingSemantics.IDEMPOTENT

    @abc.abstractmethod
    def record_schema(self) -> T.StructType:
        """Declared record schema — None/raising is a validation
        failure, as in the reference (op 1 errors on null schema)."""

    @abc.abstractmethod
    def create_tasks(self, job: DataIngestionJob) -> Sequence[dict]:
        """Partition planning: one dict of task_arguments per task
        (``CreateIngestionTasksOperation.java:36-57``)."""

    @abc.abstractmethod
    def persist(self, spark: SparkSession, task: DataIngestionTask, records: DataFrame) -> None:
        """Sink stage (``PersistProcessedDataOperation.java:45-60``)."""

    def on_job_completed(
        self, spark: SparkSession, job: DataIngestionJob, tasks: Sequence[DataIngestionTask]
    ) -> None:
        """Post-job hook (``HandleJobCompletedOperation.java:20-28``)."""

    def schema(self) -> IntegrationSchema:
        st = self.record_schema()
        return IntegrationSchema(
            name=f"{self.source_name}.record", schema_json=struct_to_avro(st)
        )

    def details(self) -> IntegrationDetails:
        return IntegrationDetails(
            source_name=self.source_name,
            version_number=self.version,
            is_raw_data_integration=isinstance(self, RawDataIntegration),
            persisting_semantics=self.persisting_semantics,
        )


class RawDataIntegration(DataIntegration):
    """Two-stage family: opaque raw bytes then a parse stage
    (ops 3+4 — ``FetchRawDataOperation.java`` / ``ProcessRawDataOperation.java``)."""

    @abc.abstractmethod
    def fetch_raw(self, task: DataIngestionTask) -> list[bytes]:
        """Pull opaque raw payloads for one task."""

    @abc.abstractmethod
    def process_raw(
        self, spark: SparkSession, task: DataIngestionTask, raw_df: DataFrame
    ) -> DataFrame:
        """Raw rows → typed records DataFrame. ``raw_df`` has Spark's
        ``binaryFile`` schema and values (``path``, ``modificationTime``,
        ``length``, ``content``: the gzipped bytes as stored) whichever
        path built it: a ``binaryFile`` scan, or for a small task an
        Arrow local relation of the bytes op 4 checked."""


class ProcessedDataIntegration(DataIntegration):
    """Single-stage family: typed records directly
    (op 5 — ``FetchProcessedDataOperation.java:54-78``)."""

    @abc.abstractmethod
    def fetch_processed(
        self, spark: SparkSession, task: DataIngestionTask
    ) -> DataFrame:
        """Produce the typed records DataFrame for one task."""


class IntegrationRegistry:
    """(source name, version)-pinned connector registry."""

    def __init__(self):
        self._by_key: dict[tuple[str, int], DataIntegration] = {}

    def register(self, integration: DataIntegration) -> None:
        key = (integration.source_name, integration.version)
        self._by_key[key] = integration

    def resolve(self, source_name: str, version: int | None = None) -> DataIntegration:
        if version is not None:
            return self._by_key[(source_name, version)]
        versions = [v for (n, v) in self._by_key if n == source_name]
        if not versions:
            raise KeyError(f"no integration registered for {source_name!r}")
        return self._by_key[(source_name, max(versions))]
