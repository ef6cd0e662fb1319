"""The engine: worker slots, delegation, ack semantics, typed
response dispatch.

Composition of the pieces (queue table + prioritizer + delegation +
resource pool) into the reference's execution loop:

- Worker slots poll for work (``WorkerFSM.scala:252-259``; slot count
  = ``worker-count``, ``reference.conf:22``), with warm-integration
  affinity inside ``work-affinity-timeout``
  (``WorkerFSM.scala:161-199,267-279``; default 10 min,
  ``reference.conf:68``).
- Delegation walks the priority-ordered queue iterator doing
  basicGet-without-ack + all-or-nothing resource leasing with
  rollback-and-requeue on contention
  (``WorkDelegation.scala:93-121``, ``ResourceLeasing.scala:13-27``).
- Ack timing per idempotency (``TaskFSM.scala:102-115``): idempotent
  work acks AFTER the result (at-least-once; requeued if the worker
  dies mid-run), unsafe persists ack BEFORE execution (at-most-once;
  never re-run — a failure after start is reported, not retried).
- Results and expirations dispatch to a typed callback registry
  (``coordinator/DelegatingWorkResponseHandler.scala:25-77``,
  ``ResponseQueueConsumer.scala:77-130``).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from hyppo_worker_spark.model import (
    FailureResponse,
    Operation,
    StatusUpdate,
    WorkInput,
    WorkResponse,
)
from hyppo_worker_spark.operations import run_operation
from hyppo_worker_spark.registry import IntegrationRegistry
from hyppo_worker_spark.scheduler.delegation import (
    BackoffConfig,
    DefaultDelegationStrategy,
    WorkQueueMetrics,
)
from hyppo_worker_spark.scheduler.priority import WorkQueuePrioritizer
from hyppo_worker_spark.scheduler.queues import QueueNaming, WorkQueueTable
from hyppo_worker_spark.scheduler.resources import (
    RecentResourceContention,
    ResourcePool,
    ResourceUnavailable,
)
from hyppo_worker_spark.storage import DataFileHandler


def flush_python_worker_pools(spark) -> None:
    """Absorb python workers left half-dead by interrupt-kills.

    Spark pools python workers keyed by (exec, module, env): plain RDD
    jobs and SQL Python-UDF jobs draw from DIFFERENT pools, so both
    are cycled — a worker killed mid-UDF would otherwise fail the next
    UDF job scheduled onto it (java.nio CancelledKeyException) while
    RDD flushes never touch it. Each absorb pass schedules one task
    per core; a broken worker fails its task (maxFailures=1 locally),
    the pool replaces it, and a clean pass means the pool is healthy.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    sc = spark.sparkContext
    n = max(sc.defaultParallelism, 1)
    ident = F.udf(lambda x: x, T.LongType())
    for job in (
        lambda: sc.parallelize(range(n * 2), n).count(),
        lambda: spark.range(n * 2).repartition(n).select(ident("id")).count(),
    ):
        for _ in range(2):
            try:
                job()
                break  # clean pass — this pool is healthy
            except Exception:  # noqa: BLE001 — broken worker absorbed
                continue


def _cancel_job_group(sc, group_id: str) -> None:
    """Cancel a job group, including jobs not yet submitted when the
    JVM supports it (``SparkContext.cancelJobGroupAndFutureJobs``,
    Spark >= 4.0 — not yet surfaced in the Python API). Cancellation
    races job submission: plain ``cancelJobGroup`` is a no-op when the
    operation's job hasn't registered yet, so callers should re-issue
    until the operation unwinds when future-jobs cancel is missing."""
    try:
        sc._jsc.sc().cancelJobGroupAndFutureJobs(group_id)  # noqa: SLF001
        return
    except Exception:  # noqa: BLE001 — older JVM or gateway hiccup
        pass
    try:
        sc.cancelJobGroup(group_id)
    except Exception:  # noqa: BLE001 — cancellation must never raise
        pass


@dataclass
class EngineConfig:
    """Defaults mirror ``reference.conf``."""

    worker_count: int = 1  # reference.conf:22
    work_timeout_s: float = 3600.0  # reference.conf:19
    task_polling_interval_s: float = 5.0  # reference.conf:72
    work_affinity_timeout_s: float = 600.0  # reference.conf:68
    backoff: BackoffConfig = field(default_factory=BackoffConfig)
    # Running-state watchdog: bound the Running FSM state with the same
    # work-timeout that bounds queue residency (``WorkerFSM.scala:125``,
    # ``reference.conf:19``). None disables the watchdog.
    run_timeout_s: float | None = 3600.0
    # Poison-message policy: an item delivered this many times without
    # an ack is dead-lettered to the expired handlers instead of
    # requeued (the redelivery-flag surface of
    # ``QueueItemHeaders.scala:11-26`` turned into a bound).
    max_deliveries: int = 5
    # Graceful-shutdown budget; running work gets 80% of it to finish
    # before being cancelled (``HyppoConfig.scala:55-60``).
    shutdown_timeout_s: float = 8.0
    # Durable-queue journal path (None = in-memory only). With a path,
    # pending + unacked work survives driver death: a new engine built
    # over the same path redelivers it (RabbitMQ-persistence analog —
    # ``IdempotentWorkQueueingTests.scala:38-64``). Unsafe persists ack
    # before running, so they are never redelivered.
    journal_path: str | None = None


class ResponseHandler:
    """Typed callback registry (completed / failed / expired),
    keyed by operation (``WorkResponseHandler.scala:8-16``)."""

    def __init__(self):
        self._completed: dict[Operation | None, list[Callable[[WorkResponse], None]]] = {}
        self._failed: list[Callable[[FailureResponse], None]] = []
        self._expired: list[Callable[[WorkInput], None]] = []
        self._status: list[Callable[[StatusUpdate], None]] = []

    def on_completed(self, fn: Callable[[WorkResponse], None], operation: Operation | None = None):
        self._completed.setdefault(operation, []).append(fn)
        return fn

    def on_failed(self, fn: Callable[[FailureResponse], None]):
        self._failed.append(fn)
        return fn

    def on_expired(self, fn: Callable[[WorkInput], None]):
        self._expired.append(fn)
        return fn

    def on_status(self, fn: Callable[[StatusUpdate], None]):
        """Mid-operation progress frames (StatusUpdate phases)."""
        self._status.append(fn)
        return fn

    def dispatch_status(self, update: StatusUpdate) -> None:
        for fn in self._status:
            fn(update)

    def dispatch_response(self, response: WorkResponse) -> None:
        if isinstance(response, FailureResponse):
            for fn in self._failed:
                fn(response)
            return
        op = response.input.operation
        for fn in self._completed.get(op, []):
            fn(response)
        for fn in self._completed.get(None, []):
            fn(response)

    def dispatch_expired(self, item: WorkInput) -> None:
        for fn in self._expired:
            fn(item)


@dataclass
class _WorkerSlot:
    """Worker slot with an explicit state machine — the in-process
    analog of the reference's WorkerFSM lifecycle
    Idle→LoadingCode→Running→Available (``WorkerFSM.scala:52-259``;
    code loading collapses to registry resolution in-process)."""

    index: int
    state: str = "idle"  # idle | running | publishing
    affinity_source: str | None = None
    affinity_version: int | None = None
    affinity_at: float = 0.0
    transitions: list = field(default_factory=list)
    # In-flight tracking for the watchdog + graceful shutdown.
    current_delivery: object | None = None
    current_group: str | None = None
    # Set by shutdown() when it cancels this slot's job group, so
    # _execute can tell a cancellation-induced failure from a genuine
    # connector failure that merely raced the stop flag.
    cancelled: bool = False

    def transition(self, state: str) -> None:
        self.state = state
        self.transitions.append(state)


class HyppoEngine:
    """Single-driver engine: submit work, let slots drain it through
    Spark, collect typed responses."""

    def __init__(
        self,
        spark: SparkSession,
        registry: IntegrationRegistry,
        handler: DataFileHandler,
        config: EngineConfig | None = None,
        naming: QueueNaming | None = None,
        clock=time.monotonic,
    ):
        self.spark = spark
        self.registry = registry
        self.data_handler = handler
        self.config = config or EngineConfig()
        self.queues = WorkQueueTable(
            naming or QueueNaming(),
            clock=clock,
            journal_path=self.config.journal_path,
        )
        self.resources = ResourcePool(clock=clock)
        self.contention = RecentResourceContention(
            self.config.backoff.max_wait_s, clock=clock
        )
        self.prioritizer = WorkQueuePrioritizer.default()
        self.strategy = DefaultDelegationStrategy(
            self.prioritizer, self.contention, self.config.backoff, clock=clock
        )
        self.responses = ResponseHandler()
        self.results_log: list[WorkResponse] = []
        self._clock = clock
        self._lock = threading.Lock()
        self._slots = [_WorkerSlot(i) for i in range(self.config.worker_count)]
        self._stop = threading.Event()

    # -- submission (WorkDispatcher.enqueue parity) --------------------

    def submit(self, item: WorkInput, ttl_s: float | None = None) -> str:
        return self.queues.enqueue(
            item, ttl_s=ttl_s if ttl_s is not None else self.config.work_timeout_s
        )

    # -- delegation ----------------------------------------------------

    def _queue_metrics(self) -> tuple[WorkQueueMetrics, list[WorkQueueMetrics]]:
        details = self.queues.all_details()
        general = None
        integrations = []
        for d in details:
            m = WorkQueueMetrics(
                details=d, resources=self.queues.resources_of(d.queue_name)
            )
            if d.queue_name == self.queues.naming.general:
                general = m
            elif self.queues.naming.is_integration_queue(d.queue_name):
                integrations.append(m)
        assert general is not None
        return general, integrations

    def _next_delivery(self, slot: _WorkerSlot):
        """Walk the delegated queue order; lease resources; first
        successful (delivery, leases) wins. Contention requeues and
        remembers the blocking resource."""
        general, integrations = self._queue_metrics()
        now = self._clock()
        if (
            slot.affinity_source is not None
            and (now - slot.affinity_at) < self.config.work_affinity_timeout_s
        ):
            order = self.strategy.priority_order_with_preference(
                lambda qn: self.queues.naming.belongs_to_integration(
                    slot.affinity_source, slot.affinity_version, qn
                ),
                general,
                integrations,
            )
        else:
            order = self.strategy.priority_order_without_affinity(general, integrations)
        for details in order:
            delivery = self.queues.basic_get(details.queue_name)
            if delivery is None:
                continue
            res = list(delivery.item.input.resources)
            try:
                leases = self.resources.acquire_all(res)
            except ResourceUnavailable as e:
                self.contention.failed_to_acquire(e.resource)
                # Never ran: roll the delivery count back so contention
                # bounces don't consume the poison-message budget.
                self.queues.return_uncounted(delivery)
                continue
            self.contention.successfully_acquired(res)
            return delivery, leases
        return None

    # -- execution -----------------------------------------------------

    def _execute(self, slot: _WorkerSlot, delivery, leases) -> None:
        import dataclasses

        item: WorkInput = delivery.item.input
        # Poison bound across engine restarts: an item that crash-loops
        # through journal recoveries arrives with a growing delivery
        # count but never passes through reject_requeue (the in-process
        # dead-letter point). Enforce the budget before running so a
        # poison message can't execute unboundedly across workers.
        if (
            self.config.max_deliveries is not None
            and delivery.item.delivery_count > self.config.max_deliveries
        ):
            self.queues.dead_letter(delivery)
            self.resources.release_all(leases)
            self._sweep_expired()
            return
        slot.transition("running")
        slot.cancelled = False
        acked_early = False
        if not item.idempotent:
            # Unsafe persist: ack BEFORE running (at-most-once).
            self.queues.ack(delivery)
            acked_early = True

        # Running-state watchdog (``WorkerFSM.scala:125``): the
        # operation runs under a per-execution Spark job group; if it
        # exceeds the work-timeout, its Spark jobs are cancelled
        # (cooperative — task threads are interrupted, the blocked
        # action raises, and run_operation converts it to a
        # FailureResponse). The slot is then freed, the idempotent item
        # requeued (at-least-once) or the unsafe item failed-not-rerun
        # (at-most-once) — ``TaskFSM.scala:75-84`` semantics.
        # Group id is per-ATTEMPT, not per-execution: future-jobs
        # cancellation marks the group id cancelled permanently, and a
        # redelivered item keeps its execution_id — reusing the group
        # would kill every retry at submission.
        group_id = f"hyppo-exec-{item.execution_id}-a{delivery.item.delivery_count}"
        sc = self.spark.sparkContext
        timed_out = threading.Event()
        op_done = threading.Event()

        def _kill() -> None:
            timed_out.set()
            # Re-issue the cancel until the operation unwinds: the
            # timeout can fire before the operation's job registers
            # with the DAGScheduler (plain cancelJobGroup is then a
            # no-op), and an operation may submit several sequential
            # actions. The future-jobs variant short-circuits this
            # where the JVM supports it.
            while True:
                _cancel_job_group(sc, group_id)
                if op_done.wait(0.2):
                    return

        timer: threading.Timer | None = None
        sc.setJobGroup(group_id, f"{item.operation.value} {item.execution_id}",
                       interruptOnCancel=True)
        slot.current_delivery = delivery
        slot.current_group = group_id
        if self.config.run_timeout_s is not None:
            timer = threading.Timer(self.config.run_timeout_s, _kill)
            timer.daemon = True
            timer.start()
        try:
            response = run_operation(
                self.spark,
                self.registry,
                self.data_handler,
                item,
                on_status=self.responses.dispatch_status,
            )
        finally:
            if timer is not None:
                timer.cancel()
            op_done.set()
            # PySpark has no SparkContext.clearJobGroup; without this
            # the slot thread keeps the finished item's group
            sc._jsc.clearJobGroup()  # noqa: SLF001
            slot.current_delivery = None
            slot.current_group = None
            self.resources.release_all(leases)

        slot.transition("publishing")
        # A failure counts as CANCELLED (not a connector failure) when
        # this slot was actually killed — by its watchdog timer or by
        # shutdown() cancelling its job group — AND during a shutdown
        # for ANY failure of not-yet-acked work: inside the stop window
        # the cancel storm makes infrastructure collateral (a python
        # worker or socket dying under a neighboring interrupt)
        # indistinguishable from a genuine connector failure, and
        # at-least-once semantics make redelivery the safe call — the
        # reference's worker-death path likewise reports nothing and
        # lets the next worker run the item (a truly broken connector
        # fails again there and is reported then, bounded by
        # max_deliveries). Observed live: a straggler failing
        # spuriously ~1s before its cancel landed was acked + reported
        # terminal, so the restarted engine never re-ran it.
        killed = (
            timed_out.is_set()
            or slot.cancelled
            or (self._stop.is_set() and not acked_early)
        ) and isinstance(response, FailureResponse)
        if isinstance(response, FailureResponse):
            response = dataclasses.replace(
                response,
                attempt=delivery.item.delivery_count,
                timed_out=timed_out.is_set(),
            )
        if killed and not acked_early:
            # Idempotent work killed by the watchdog: silent redelivery
            # (the broker never saw an ack), bounded by the
            # poison-message policy. Dispatch the failure only when the
            # item will NOT run again (dead-lettered); "unknown" means
            # shutdown's requeue_all_unacked() already reclaimed the
            # delivery and it WILL re-run — reporting a terminal
            # failure then would precede a later success for the same
            # execution.
            outcome = self.queues.reject_requeue(
                delivery, max_deliveries=self.config.max_deliveries
            )
            if outcome == "dead_lettered":
                with self._lock:
                    self.results_log.append(response)
                self.responses.dispatch_response(response)
            slot.transition("idle")
            return
        if not acked_early:
            self.queues.ack(delivery)
        slot.affinity_source = item.integration.source_name
        slot.affinity_version = item.integration.version_number
        slot.affinity_at = self._clock()
        with self._lock:
            self.results_log.append(response)
        self.responses.dispatch_response(response)
        slot.transition("idle")

    def _sweep_expired(self) -> None:
        for _queue_name, qitem in self.queues.sweep_expired():
            self.responses.dispatch_expired(qitem.input)

    # -- drain loops ---------------------------------------------------

    def run_once(self, slot_index: int = 0) -> bool:
        """One delegation+execution cycle; returns True if work ran."""
        self._sweep_expired()
        got = self._next_delivery(self._slots[slot_index])
        if got is None:
            return False
        self._execute(self._slots[slot_index], *got)
        return True

    def run_until_idle(self, max_items: int | None = None) -> int:
        """Synchronously drain all queues (single- or multi-slot).
        Returns the number of items executed. A concurrent
        ``shutdown()`` stops delegation of further items."""
        executed = 0
        if self.config.worker_count <= 1:
            while (
                (max_items is None or executed < max_items)
                and not self._stop.is_set()
                and self.run_once(0)
            ):
                executed += 1
            self._sweep_expired()
            return executed

        counter_lock = threading.Lock()
        counters = [0]
        active = [0]

        def slot_loop(idx: int):
            while not self._stop.is_set():
                with counter_lock:
                    if max_items is not None and counters[0] >= max_items:
                        return
                    active[0] += 1
                try:
                    ran = self.run_once(idx)
                finally:
                    with counter_lock:
                        active[0] -= 1
                        if ran:
                            counters[0] += 1
                if not ran:
                    # Idle — but a busy slot may still submit follow-up
                    # work (response-chained pipelines). Only exit when
                    # nobody is executing.
                    with counter_lock:
                        if active[0] == 0:
                            return
                    time.sleep(0.01)

        threads = [
            threading.Thread(target=slot_loop, args=(i,), daemon=True)
            for i in range(self.config.worker_count)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self._sweep_expired()
        return counters[0]

    # -- graceful shutdown --------------------------------------------

    def shutdown(self, timeout_s: float | None = None) -> dict:
        """Graceful bounded-drain shutdown (``HyppoConfig.scala:55-60``:
        workers get 80% of the shutdown window to finish before the
        process exits).

        1. Stop delegation — no new items are taken.
        2. Wait up to 80% of the budget for running slots to finish.
        3. Cancel the Spark job groups of any stragglers.
        4. Requeue every still-unacked delivery so idempotent work is
           redelivered on the next engine (worker-death semantics of
           ``IdempotentWorkQueueingTests.scala:38-64``; unsafe persists
           acked early and are never re-run).

        Returns ``{"drained": bool, "cancelled": n, "requeued": n}``.
        Call from any thread; safe when the engine is idle.
        """
        budget = self.config.shutdown_timeout_s if timeout_s is None else timeout_s
        self._stop.set()
        deadline = self._clock() + 0.8 * budget
        while self._clock() < deadline and any(
            s.current_delivery is not None for s in self._slots
        ):
            time.sleep(0.01)
        sc = self.spark.sparkContext
        # Snapshot (slot, delivery) pairs and DERIVE each straggler's
        # job-group id from its delivery (the same formula _execute
        # uses). Never re-read slot.current_group in a cancel loop: the
        # slot can unwind and start a redelivered attempt between a
        # liveness check and the group read, and the stale loop would
        # then kill the NEW attempt (observed as a restart-phase
        # failure in the shutdown test).
        def _group_of(delivery) -> str:
            item = delivery.item.input
            return (
                f"hyppo-exec-{item.execution_id}-a{delivery.item.delivery_count}"
            )

        # Group ids are computed ONCE here: a racing requeue increments
        # the delivery count in place, and a later recompute would name
        # the NEXT attempt's group.
        stragglers = [
            (s, s.current_delivery, _group_of(s.current_delivery))
            for s in self._slots
            if s.current_delivery is not None
        ]
        cancelled = len(stragglers)
        for slot, _, _ in stragglers:
            slot.cancelled = True
        # Cancel stragglers and wait for them to unwind. The cancel is
        # RE-ISSUED until the slot clears (same reason as the watchdog's
        # _kill loop): under load the straggler's Spark job may not have
        # registered with the DAGScheduler yet — a one-shot cancel is
        # then a no-op and the slot would sleep out its full action.
        give_up_at = self._clock() + max(0.0, 0.2 * budget)
        while any(s.current_delivery is d for s, d, _ in stragglers):
            for s, d, g in stragglers:
                if s.current_delivery is d:
                    _cancel_job_group(sc, g)
            if self._clock() >= give_up_at:
                break
            time.sleep(0.05)
        # Budget exhausted with a slot still busy: in the reference the
        # process exits here regardless. In-process, keep re-issuing the
        # cancel from a daemon so the stuck action is still torn down
        # and the drain loop can exit — its delivery was already
        # reclaimed below, and reject_requeue resolves to "unknown".
        # The group id is pinned to the stuck delivery, so once that
        # attempt unwinds the reaper dies without ever touching work a
        # restarted engine runs on the same slot.
        for s, d, g in stragglers:
            if s.current_delivery is d:

                def _reap(slot=s, delivery=d, group=g):
                    while slot.current_delivery is delivery:
                        _cancel_job_group(sc, group)
                        time.sleep(0.2)

                threading.Thread(target=_reap, daemon=True).start()
        requeued = self.queues.requeue_all_unacked()
        self.queues.close_journal()
        drained = cancelled == 0 and requeued == 0
        return {"drained": drained, "cancelled": cancelled, "requeued": requeued}

    def reset_for_restart(self, flush_python_workers: bool = True) -> None:
        """Clear the stop flag so a drained engine can resume — the
        'next worker process' in tests. Journaling resumes too:
        shutdown closed the journal after logging its requeues, so the
        file and the in-memory state are consistent to append to.

        The reference RESTARTS its executor process after killing work
        (worker-death semantics); in a shared-JVM session the closest
        hazard is Spark's python-worker REUSE pool: an interrupt-kill
        can leave a half-dead python worker behind, and the next job
        scheduled onto it fails spuriously (CancelledKeyException) —
        which the engine would report as a terminal connector failure.
        ``flush_python_workers`` absorbs those with throwaway
        python-side jobs whose failures replace the broken workers.
        """
        self._stop.clear()
        for slot in self._slots:
            slot.cancelled = False
        self.queues.reopen_journal()
        if flush_python_workers:
            flush_python_worker_pools(self.spark)
