"""Closed-loop ingestion load on ``HyppoEngine``: a fixed number of
lanes, each with one job in flight; a lane submits its next job from
the engine's ``on_completed`` chain when the previous job finishes."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field
from time import perf_counter

from hyppo_worker_spark.model import (
    CreateIngestionTasksRequest,
    DataIngestionJob,
    FetchRawDataRequest,
    HandleJobCompletedRequest,
    IngestionSource,
    Operation,
    PersistProcessedDataRequest,
    ProcessRawDataRequest,
)
from hyppo_worker_spark.registry import IntegrationRegistry
from hyppo_worker_spark.scheduler.scheduler import EngineConfig, HyppoEngine
from hyppo_worker_spark.storage import DataFileHandler, StorageLayout

from perfbench.connectors import BulkFeed, output_dir
from perfbench.inputs import Inputs, check_outputs

WORKER_COUNT = 4
TASKS_PER_JOB = 4
# One job in flight: its 4 tasks already fill the 4 slots. With two,
# the second job mostly queued; records per second stayed within the
# host's run-to-run spread (medians 35.1k and 30.9k over five seeds),
# but job latency spread 2.1-3.8 s inside a run and 2.4-3.3 s across
# runs, against 1.3-2.1 s and 1.4-1.8 s with one.
LANES = 1

OP_NAMES = {
    Operation.CREATE_INGESTION_TASKS: "create_tasks",
    Operation.FETCH_RAW_DATA: "fetch_raw",
    Operation.PROCESS_RAW_DATA: "process_raw",
    Operation.PERSIST_PROCESSED_DATA: "persist",
    Operation.HANDLE_JOB_COMPLETED: "job_completed",
}


@dataclass
class Job:
    job: DataIngestionJob
    lane: int | None  # None: warm-up job, outside every lane
    counted: bool  # submitted while its lane was being measured
    submitted: float
    tasks: tuple = ()
    persisted: int = 0
    records: int = 0
    hashed_bytes: int = 0
    done: float | None = None
    problems: list[str] = field(default_factory=list)


@dataclass
class Lane:
    start: float | None  # None while the lane settles
    settle: int = 0  # settle jobs still to complete
    done: list[float] = field(default_factory=list)
    records: list[float] = field(default_factory=list)
    latency: list[float] = field(default_factory=list)
    open: bool = True


@dataclass
class ItemTrace:
    op: str
    submitted: float
    started: float | None = None
    finished: float | None = None
    spark_jobs: int = 0


class EngineLoad:
    """One engine over one records zone."""

    def __init__(self, spark, inp: Inputs, work: str, journal: str):
        self.spark = spark
        self.inp = inp
        self.out_root = os.path.join(work, "out")
        self.feed = BulkFeed(self.out_root)
        registry = IntegrationRegistry()
        registry.register(self.feed)
        handler = DataFileHandler(
            spark,
            StorageLayout(bucket=os.path.join(work, "storage")),
            records_fmt="avro-py",
        )
        self.engine = HyppoEngine(
            spark,
            registry,
            handler,
            EngineConfig(worker_count=WORKER_COUNT, journal_path=journal),
        )
        self.details = self.feed.details()
        self._lock = threading.Lock()
        self._next_file = 0
        self.jobs: dict[str, Job] = {}
        self.produced: dict[str, str] = {}
        self._out_job: dict[str, str] = {}
        self.lanes: dict[int, Lane] = {}
        self._seconds = 0.0
        # Filled only while tracing: per-item timings by execution id.
        self.items: dict[str, ItemTrace] | None = None
        r = self.engine.responses
        r.on_completed(self._chain)
        r.on_failed(lambda resp: self._fail(resp.input, resp.exception.message))
        r.on_expired(lambda item: self._fail(item, "expired"))
        r.on_status(self._status)

    # -- submission ----------------------------------------------------

    def _submit(self, item) -> None:
        if self.items is not None:
            self.items[item.execution_id] = ItemTrace(
                OP_NAMES[item.operation], perf_counter()
            )
        self.engine.submit(item)

    def _start_job(self, lane: int | None, counted: bool, files: list[str]) -> None:
        job = DataIngestionJob(
            source=IngestionSource(name=self.feed.source_name),
            configuration={"files": files},
        )
        self.jobs[job.id] = Job(job, lane, counted, perf_counter())
        self._submit(CreateIngestionTasksRequest(integration=self.details, job=job))

    def _files(self) -> list[str]:
        pool = self.inp.files
        picked = [pool[(self._next_file + i) % len(pool)] for i in range(TASKS_PER_JOB)]
        self._next_file += TASKS_PER_JOB
        return picked

    # -- response chain (runs on worker-slot threads) -----------------

    def _chain(self, resp) -> None:
        op = resp.input.operation
        task = getattr(resp.input, "task", None)
        with self._lock:
            j = self.jobs[(task.job if task else resp.input.job).id]
            if j.done is not None:
                return
            if op is Operation.CREATE_INGESTION_TASKS:
                j.tasks = resp.tasks
                nxt = [
                    FetchRawDataRequest(integration=self.details, task=t)
                    for t in resp.tasks
                ]
            elif op is Operation.FETCH_RAW_DATA:
                # md5 over each raw blob on upload and again on download
                j.hashed_bytes += 2 * sum(m.file_size for m in resp.data)
                nxt = [
                    ProcessRawDataRequest(
                        integration=self.details, task=task, files=resp.data
                    )
                ]
            elif op is Operation.PROCESS_RAW_DATA:
                src = task.task_arguments["src"]
                if resp.data.record_count != self.inp.counts[src]:
                    j.problems.append(
                        f"task {task.task_number}: manifest record_count "
                        f"{resp.data.record_count} != generated {self.inp.counts[src]}"
                    )
                j.records += resp.data.record_count
                # the records manifest hashes the dataset on write and read
                j.hashed_bytes += 2 * resp.data.file_size
                nxt = [
                    PersistProcessedDataRequest(
                        integration=self.details, task=task, data=resp.data
                    )
                ]
            elif op is Operation.PERSIST_PROCESSED_DATA:
                out = output_dir(self.out_root, task)
                self.produced[out] = task.task_arguments["src"]
                self._out_job[out] = j.job.id
                j.persisted += 1
                nxt = []
                if j.persisted == len(j.tasks):
                    nxt = [
                        HandleJobCompletedRequest(
                            integration=self.details, job=j.job, tasks=j.tasks
                        )
                    ]
            else:
                nxt = []
                self._finish(j)
        for item in nxt:
            self._submit(item)

    def _fail(self, item, why: str) -> None:
        task = getattr(item, "task", None)
        job = task.job if task is not None else item.job
        with self._lock:
            j = self.jobs[job.id]
            if j.done is None:
                j.problems.append(f"{item.operation.value}: {why}")
                self._finish(j)

    def _finish(self, j: Job) -> None:
        """Close a job (lock held) and keep its lane loaded."""
        now = perf_counter()
        j.done = now
        if j.lane is None:
            return
        lane = self.lanes[j.lane]
        if j.counted and lane.open:
            if lane.start is None:
                # the last settle completion starts the span
                lane.settle -= 1
                if lane.settle <= 0:
                    lane.start = now
            else:
                if not j.problems:
                    lane.done.append(now)
                    lane.records.append(j.records)
                    lane.latency.append(now - j.submitted)
                if now >= lane.start + self._seconds:
                    lane.open = False
        # A lane that stopped measuring keeps one job in flight until
        # every lane has stopped, so the others see a constant load.
        if any(ln.open for ln in self.lanes.values()):
            self._start_job(j.lane, lane.open, self._files())

    def _status(self, update) -> None:
        if self.items is None:
            return
        it = self.items.get(update.execution_id)
        if it is None:
            return
        if update.phase == "started":
            it.started = perf_counter()
        elif update.phase in ("completed", "failed"):
            it.finished = perf_counter()
            # Still on the slot thread, inside the engine's job group
            # hyppo-exec-{execution_id}-a{delivery_count}.
            sc = self.spark.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            it.spark_jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    # -- driving ---------------------------------------------------------

    def warm_up(self) -> None:
        """One job over the tiny warm-up file, run to completion alone."""
        self._start_job(None, False, [self.inp.warm_file] * TASKS_PER_JOB)
        self.engine.run_until_idle()

    def run_window(self, seconds: float, settle: int = 0) -> None:
        """Run ``LANES`` lanes. Without ``settle`` a lane measures from
        now; with it, from its ``settle``-th completion. A lane measures
        until its first completion ``seconds`` after its start."""
        start = perf_counter()
        self._seconds = seconds
        self.lanes = {
            i: Lane(None, settle) if settle else Lane(start) for i in range(LANES)
        }
        with self._lock:
            for i in range(LANES):
                self._start_job(i, True, self._files())
        self.engine.run_until_idle()

    def check(self) -> int:
        """Oracle check over every job this engine ran; returns the
        number of jobs with a failure or a wrong output."""
        for out, problem in check_outputs(self.inp, self.produced):
            self.jobs[self._out_job[out]].problems.append(problem)
        bad = 0
        for j in self.jobs.values():
            if j.done is None:
                j.problems.append("never completed")
            elif not j.problems and j.persisted != len(j.tasks):
                j.problems.append("not every task persisted")
            bad += bool(j.problems)
        return bad

    def close(self) -> None:
        self.engine.shutdown(timeout_s=5.0)
