"""The seven pipeline operations as (spark, registry, handler, item) →
response functions — the engine's dispatch of the reference's
executor command loop
(``executor/.../cli/ExecutorCommandLoop.java:48-95`` +
``executor/.../run/*Operation.java``).

Every operation revalidates configs first and wraps failures into a
``FailureResponse`` carrying a structured chained exception
(``WorkerProtocol.scala:51-56``,
``worker-api/.../proto/IntegrationException.scala:13-59``) — parity
with the combined ``ValidationException`` pattern repeated in
``ProcessRawDataOperation.java:62-68`` and ops 2,3,5,6.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession

from hyppo_worker_spark.model import (
    CreateIngestionTasksRequest,
    StatusUpdate,
    CreateIngestionTasksResponse,
    DataIngestionTask,
    FailureResponse,
    FetchProcessedDataRequest,
    FetchProcessedDataResponse,
    FetchRawDataRequest,
    FetchRawDataResponse,
    HandleJobCompletedRequest,
    HandleJobCompletedResponse,
    IntegrationException,
    Operation,
    PersistProcessedDataRequest,
    PersistProcessedDataResponse,
    ProcessRawDataRequest,
    ProcessRawDataResponse,
    ValidateIntegrationRequest,
    ValidateIntegrationResponse,
    WorkInput,
    WorkResponse,
)
from hyppo_worker_spark.registry import (
    DataIntegration,
    IntegrationRegistry,
    ProcessedDataIntegration,
    RawDataIntegration,
)
from hyppo_worker_spark import storage
from hyppo_worker_spark.storage import DataFileHandler


class ValidationError(ValueError):
    """Combined pre-flight validation failure."""


def _validate_common(item: WorkInput, integration: DataIntegration) -> list[str]:
    errors = []
    if not integration.source_name:
        errors.append("integration has no source name")
    task = getattr(item, "task", None)
    if task is not None and task.task_number < 1:
        errors.append(f"task_number must be >= 1, got {task.task_number}")
    job = getattr(item, "job", None) or (task.job if task is not None else None)
    if job is not None and job.source.name != integration.source_name:
        errors.append(
            f"job source {job.source.name!r} != integration {integration.source_name!r}"
        )
    return errors


def _resolve_valid(
    registry: IntegrationRegistry,
    item: WorkInput,
    family: type | None = None,
    op: str = "",
) -> DataIntegration:
    """Resolve ``item``'s integration and run the common pre-flight
    checks, plus the raw/processed ``family`` check of operation
    ``op`` when given; raises ``ValidationError``."""
    integration = registry.resolve(
        item.integration.source_name, item.integration.version_number
    )
    errors = _validate_common(item, integration)
    if errors:
        raise ValidationError("; ".join(errors))
    if family is not None and not isinstance(integration, family):
        kind = "raw" if family is RawDataIntegration else "processed"
        raise ValidationError(f"{op} on a non-{kind} integration")
    return integration


def op_validate_integration(
    spark: SparkSession,
    registry: IntegrationRegistry,
    handler: DataFileHandler,
    item: ValidateIntegrationRequest,
) -> ValidateIntegrationResponse:
    """Op 1 (``ValidateIntegrationOperation.java:34-100``): resolve the
    connector, check its schema resolves and an empty DataFrame can be
    constructed from it, report family + persisting semantics."""
    errors: list[str] = []
    schema = None
    is_raw = False
    semantics = None
    try:
        integration = registry.resolve(
            item.integration.source_name, item.integration.version_number
        )
        is_raw = isinstance(integration, RawDataIntegration)
        if not is_raw and not isinstance(integration, ProcessedDataIntegration):
            errors.append(
                "integration must be RawDataIntegration or ProcessedDataIntegration"
            )
        semantics = integration.persisting_semantics
        st = integration.record_schema()
        if st is None or len(st.fields) == 0:
            errors.append("record schema is null/empty")
        else:
            spark.createDataFrame([], st)  # dry-run constructibility
            schema = integration.schema()
        if not callable(getattr(integration, "create_tasks", None)):
            errors.append("create_tasks not implemented")
        if not callable(getattr(integration, "persist", None)):
            errors.append("persist not implemented")
    except KeyError as e:
        errors.append(f"integration not registered: {e}")
    except Exception as e:  # noqa: BLE001
        errors.append(f"schema validation failed: {e}")
    return ValidateIntegrationResponse(
        input=item,
        is_valid=not errors,
        schema=schema,
        raw_data_integration=is_raw,
        persisting_semantics=semantics or item.integration.persisting_semantics,
        validation_errors=tuple(errors),
    )


def op_create_ingestion_tasks(
    spark: SparkSession,
    registry: IntegrationRegistry,
    handler: DataFileHandler,
    item: CreateIngestionTasksRequest,
) -> CreateIngestionTasksResponse:
    """Op 2 (``CreateIngestionTasksOperation.java:36-57``): fan the job
    out into numbered tasks via the connector's partition planner."""
    integration = _resolve_valid(registry, item)
    args_list = integration.create_tasks(item.job)
    tasks = tuple(
        DataIngestionTask(job=item.job, task_number=i + 1, task_arguments=dict(args))
        for i, args in enumerate(args_list)
    )
    return CreateIngestionTasksResponse(input=item, tasks=tasks)


def op_fetch_raw_data(
    spark: SparkSession,
    registry: IntegrationRegistry,
    handler: DataFileHandler,
    item: FetchRawDataRequest,
) -> FetchRawDataResponse:
    """Op 3 (``FetchRawDataOperation.java:43-65``): connector pulls
    opaque payloads; engine lands them gzipped in the raw zone with
    checksums."""
    integration = _resolve_valid(registry, item, RawDataIntegration, "fetch_raw")
    payloads = integration.fetch_raw(item.task)
    manifests = handler.upload_raw(item.task, payloads)
    return FetchRawDataResponse(input=item, data=tuple(manifests))


def op_process_raw_data(
    spark: SparkSession,
    registry: IntegrationRegistry,
    handler: DataFileHandler,
    item: ProcessRawDataRequest,
) -> ProcessRawDataResponse:
    """Op 4 (``ProcessRawDataOperation.java:59-85``): raw files →
    connector parse stage → ONE records dataset + record count.

    The reference loops a task's files sequentially in one executor.
    Here the task is sized once, by its manifests' raw bytes:

    - at most ``storage.LOCAL_READ_MAX_BYTES``: the engine's side runs
      on the driver, the reference's model. Each raw file is read and
      checked once into an Arrow local relation, and the records are
      collected as Arrow and encoded where they land, so the
      connector's parse is the only Python-worker stage;
    - above it: each file is checksummed, then becomes a ``binaryFile``
      DataFrame so the parse distributes, and the records are written
      by the executors."""
    integration = _resolve_valid(
        registry, item, RawDataIntegration, "process_raw"
    )
    files = list(item.files)
    local = sum(m.file_size for m in files) <= storage.LOCAL_READ_MAX_BYTES
    if not local:
        for m in files:
            handler.verify_raw(m)  # checksum verification, as on download
    raw_df = handler.read_raw_df(files, local=local)
    records = integration.process_raw(spark, item.task, raw_df)
    manifest = handler.write_records(item.task, records, local=local)
    return ProcessRawDataResponse(input=item, data=manifest)


def op_fetch_processed_data(
    spark: SparkSession,
    registry: IntegrationRegistry,
    handler: DataFileHandler,
    item: FetchProcessedDataRequest,
) -> FetchProcessedDataResponse:
    """Op 5 (``FetchProcessedDataOperation.java:54-78``): typed records
    directly from the connector → records zone + count."""
    integration = _resolve_valid(
        registry, item, ProcessedDataIntegration, "fetch_processed"
    )
    records = integration.fetch_processed(spark, item.task)
    declared = integration.record_schema()
    if [f.name for f in records.schema.fields] != [f.name for f in declared.fields]:
        raise ValidationError(
            f"fetched columns {records.columns} != declared {[f.name for f in declared.fields]}"
        )
    manifest = handler.write_records(item.task, records)
    return FetchProcessedDataResponse(input=item, data=manifest)


def op_persist_processed_data(
    spark: SparkSession,
    registry: IntegrationRegistry,
    handler: DataFileHandler,
    item: PersistProcessedDataRequest,
) -> PersistProcessedDataResponse:
    """Op 6 (``PersistProcessedDataOperation.java:45-60``): read the
    records dataset back (checksum-verified) and hand it to the
    connector's sink."""
    integration = _resolve_valid(registry, item)
    records = handler.read_records(item.data)
    integration.persist(spark, item.task, records)
    return PersistProcessedDataResponse(input=item)


def op_handle_job_completed(
    spark: SparkSession,
    registry: IntegrationRegistry,
    handler: DataFileHandler,
    item: HandleJobCompletedRequest,
) -> HandleJobCompletedResponse:
    """Op 7 (``HandleJobCompletedOperation.java:20-28``)."""
    integration = registry.resolve(
        item.integration.source_name, item.integration.version_number
    )
    integration.on_job_completed(spark, item.job, list(item.tasks))
    return HandleJobCompletedResponse(input=item)


_DISPATCH: dict[Operation, Callable] = {
    Operation.VALIDATE_INTEGRATION: op_validate_integration,
    Operation.CREATE_INGESTION_TASKS: op_create_ingestion_tasks,
    Operation.FETCH_RAW_DATA: op_fetch_raw_data,
    Operation.PROCESS_RAW_DATA: op_process_raw_data,
    Operation.FETCH_PROCESSED_DATA: op_fetch_processed_data,
    Operation.PERSIST_PROCESSED_DATA: op_persist_processed_data,
    Operation.HANDLE_JOB_COMPLETED: op_handle_job_completed,
}


def run_operation(
    spark: SparkSession,
    registry: IntegrationRegistry,
    handler: DataFileHandler,
    item: WorkInput,
    capture_logs: bool = True,
    on_status: Callable[[StatusUpdate], None] | None = None,
) -> WorkResponse:
    """Dispatch one work item; failures become ``FailureResponse`` with
    the chained structured exception (never raises).

    Per-run log capture: everything the connector logs during the
    operation is uploaded to the log zone and attached to the response
    as ``log_file`` — the analog of the reference's per-task stdout
    rotation + upload (``TaskSpecificLogging.java:34-48``,
    ``CommanderActor.uploadLogFuture:292-315``).
    """
    import dataclasses
    import io
    import logging

    buf = io.StringIO()
    log_handler = None
    if capture_logs:
        log_handler = logging.StreamHandler(buf)
        log_handler.setFormatter(
            logging.Formatter("%(asctime)s %(levelname)s %(name)s %(message)s")
        )
        logging.getLogger().addHandler(log_handler)
    def emit(phase: str, **detail) -> None:
        if on_status is not None:
            on_status(
                StatusUpdate(
                    execution_id=item.execution_id,
                    operation=item.operation,
                    phase=phase,
                    detail=detail,
                )
            )

    try:
        emit("started")
        response = _DISPATCH[item.operation](spark, registry, handler, item)
        detail = {}
        data = getattr(response, "data", None)
        if data is not None:
            if isinstance(data, tuple):
                detail["n_files"] = len(data)
            elif hasattr(data, "record_count"):
                detail["record_count"] = data.record_count
        emit("completed", **detail)
    except Exception as e:  # noqa: BLE001
        response = FailureResponse(
            input=item, exception=IntegrationException.from_exception(e)
        )
        emit("failed", exception=type(e).__name__)
        if capture_logs:
            buf.write(
                f"FAILURE {response.exception.exception_class}: "
                f"{response.exception.message}\n"
            )
    finally:
        if log_handler is not None:
            logging.getLogger().removeHandler(log_handler)
    if capture_logs and response.log_file is None:
        job = getattr(item, "job", None)
        task = getattr(item, "task", None)
        if job is None and task is not None:
            job = task.job
        if job is not None:
            try:
                log_file = handler.upload_log(job, item.execution_id, buf.getvalue())
                response = dataclasses.replace(response, log_file=log_file)
            except OSError:
                pass  # log upload must never fail the work item
    return response
