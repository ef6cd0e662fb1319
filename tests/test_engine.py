"""Engine end-to-end: queue routing, full pipeline through worker
slots, ack semantics (idempotent vs unsafe), TTL expiry dispatch
(reference analogs: ``IdempotentWorkQueueingTests.scala:38-64``,
``UnsafeWorkQueueingTests.scala:28-45``, ``TaskFSMTests.scala``)."""

import pytest

from hyppo_worker_spark.model import (
    CreateIngestionTasksRequest,
    DataIngestionJob,
    FailureResponse,
    FetchProcessedDataRequest,
    HandleJobCompletedRequest,
    IngestionSource,
    Operation,
    PersistProcessedDataRequest,
    ValidateIntegrationRequest,
)
from hyppo_worker_spark.registry import IntegrationRegistry
from hyppo_worker_spark.scheduler.scheduler import EngineConfig, HyppoEngine
from tests.fixtures import ProcessedDataStub, UnsafePersistStub


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, s):
        self.t += s


@pytest.fixture()
def engine(spark, storage):
    registry = IntegrationRegistry()
    clock = FakeClock()
    eng = HyppoEngine(spark, registry, storage, EngineConfig(), clock=clock)
    eng.clock = clock
    return eng


def test_queue_routing(engine):
    stub = ProcessedDataStub()
    engine.registry.register(stub)
    qname = engine.submit(ValidateIntegrationRequest(integration=stub.details()))
    assert qname == "hyppo.integration.Test_Source-v1"


def test_run_once_clears_job_group(engine, spark):
    """The executing thread's job group is cleared once the item
    finishes: later Spark work on the slot thread must not run (and
    be cancelled) under a finished item's ``hyppo-exec-…`` group."""
    stub = ProcessedDataStub()
    engine.registry.register(stub)
    engine.submit(ValidateIntegrationRequest(integration=stub.details()))
    assert engine.run_once(0)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_full_pipeline_through_engine(engine):
    """Chained via response callbacks: validate → create tasks →
    fetch → persist → job completed — the coordinator round-trip of
    SURVEY §3.1 driven entirely by typed response dispatch."""
    stub = ProcessedDataStub()
    engine.registry.register(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    seen = []

    @engine.responses.on_completed
    def chain(resp):
        seen.append(type(resp).__name__)
        op = resp.input.operation
        if op is Operation.VALIDATE_INTEGRATION:
            assert resp.is_valid
            engine.submit(CreateIngestionTasksRequest(integration=details, job=job))
        elif op is Operation.CREATE_INGESTION_TASKS:
            for t in resp.tasks:
                engine.submit(FetchProcessedDataRequest(integration=details, task=t))
        elif op is Operation.FETCH_PROCESSED_DATA:
            assert resp.data.record_count == 1
            engine.submit(
                PersistProcessedDataRequest(
                    integration=details, task=resp.input.task, data=resp.data
                )
            )
        elif op is Operation.PERSIST_PROCESSED_DATA:
            engine.submit(
                HandleJobCompletedRequest(integration=details, job=job, tasks=(resp.input.task,))
            )

    engine.submit(ValidateIntegrationRequest(integration=details))
    n = engine.run_until_idle()
    assert n == 5
    assert [r.name for r in stub.persisted_rows] == ["Name Value"]
    assert seen == [
        "ValidateIntegrationResponse",
        "CreateIngestionTasksResponse",
        "FetchProcessedDataResponse",
        "PersistProcessedDataResponse",
        "HandleJobCompletedResponse",
    ]


def test_unsafe_persist_not_requeued_on_failure(engine, spark, storage):
    """Unsafe persist acks BEFORE running: a mid-run failure produces a
    FailureResponse and the item is gone from the queue (at-most-once)."""
    stub = UnsafePersistStub(fail_persist=True)
    engine.registry.register(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    engine.submit(CreateIngestionTasksRequest(integration=details, job=job))
    engine.run_until_idle()
    task = engine.results_log[-1].tasks[0]
    engine.submit(FetchProcessedDataRequest(integration=details, task=task))
    engine.run_until_idle()
    data = engine.results_log[-1].data

    failures = []
    engine.responses.on_failed(failures.append)
    engine.submit(PersistProcessedDataRequest(integration=details, task=task, data=data))
    n = engine.run_until_idle()
    assert n == 1
    assert stub.persist_attempts == 1
    assert len(failures) == 1
    assert failures[0].exception.exception_class == "RuntimeError"
    # queue fully drained — nothing requeued
    assert engine.run_until_idle() == 0
    assert stub.persist_attempts == 1


def test_ttl_expiry_dispatches_expired_handler(engine):
    stub = ProcessedDataStub()
    engine.registry.register(stub)
    details = stub.details()
    expired = []
    engine.responses.on_expired(expired.append)
    engine.submit(ValidateIntegrationRequest(integration=details), ttl_s=10.0)
    engine.clock.advance(11.0)
    n = engine.run_until_idle()
    assert n == 0
    assert len(expired) == 1
    assert expired[0].operation is Operation.VALIDATE_INTEGRATION


def test_multi_slot_drain(spark, storage):
    registry = IntegrationRegistry()
    stub = ProcessedDataStub()
    registry.register(stub)
    eng = HyppoEngine(spark, registry, storage, EngineConfig(worker_count=4))
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    for _ in range(8):
        eng.submit(CreateIngestionTasksRequest(integration=details, job=job))
    assert eng.run_until_idle() == 8
    assert len(eng.results_log) == 8
    assert not any(isinstance(r, FailureResponse) for r in eng.results_log)


def test_affinity_set_after_execution(engine):
    stub = ProcessedDataStub()
    engine.registry.register(stub)
    engine.submit(ValidateIntegrationRequest(integration=stub.details()))
    engine.run_until_idle()
    slot = engine._slots[0]
    assert slot.affinity_source == "Test Source"
    assert slot.affinity_version == 1


def test_multi_slot_response_chained_pipeline(spark, storage):
    """Multi-slot drain must not exit while a busy slot is about to
    submit chained follow-up work."""
    registry = IntegrationRegistry()
    stub = ProcessedDataStub()
    registry.register(stub)
    eng = HyppoEngine(spark, registry, storage, EngineConfig(worker_count=4))
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))

    @eng.responses.on_completed
    def chain(resp):
        if resp.input.operation is Operation.CREATE_INGESTION_TASKS:
            for t in resp.tasks:
                eng.submit(FetchProcessedDataRequest(integration=details, task=t))

    eng.submit(CreateIngestionTasksRequest(integration=details, job=job))
    n = eng.run_until_idle()
    assert n == 2  # create + 1 fetch (stub creates one task)
    assert not any(isinstance(r, FailureResponse) for r in eng.results_log)


def test_status_updates_and_slot_fsm(engine):
    stub = ProcessedDataStub()
    engine.registry.register(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    updates = []
    engine.responses.on_status(updates.append)
    engine.submit(CreateIngestionTasksRequest(integration=details, job=job))
    engine.run_until_idle()
    phases = [u.phase for u in updates]
    assert phases == ["started", "completed"]
    assert updates[0].operation is Operation.CREATE_INGESTION_TASKS
    slot = engine._slots[0]
    assert slot.state == "idle"
    assert slot.transitions == ["running", "publishing", "idle"]


def test_status_updates_on_failure(engine, spark, storage):
    class Bad(ProcessedDataStub):
        source_name = "StatusBad"

        def create_tasks(self, job):
            raise RuntimeError("planner died")

    stub = Bad()
    engine.registry.register(stub)
    details = stub.details()
    job = DataIngestionJob(source=IngestionSource(name=stub.source_name))
    updates = []
    engine.responses.on_status(updates.append)
    engine.submit(CreateIngestionTasksRequest(integration=details, job=job))
    engine.run_until_idle()
    assert [u.phase for u in updates] == ["started", "failed"]
    assert updates[-1].detail["exception"] == "RuntimeError"
