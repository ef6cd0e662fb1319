"""In-driver work-queue table: naming, TTL expiry, ack semantics,
and per-queue statistics.

Parity targets:

- Deterministic queue naming
  (``worker/.../actor/amqp/QueueNaming.scala:22-51,89-126``):
  ``{prefix}.general`` / ``{prefix}.results`` / ``{prefix}.expired``;
  integration queues ``{prefix}.integration.{source}-v{n}`` plus an
  8-hex md5 suffix of the resource set when resources are attached;
  name sanitization whitespace→'_', '.'→'-' (:107-112).
- Message TTL with dead-lettering to the expired queue
  (``QueueHelpers.scala:21-28,57-82``; TTL = work-timeout,
  ``reference.conf:19``).
- basicGet-without-auto-ack semantics: a popped item stays leased
  (unacknowledged) until acked or rejected-with-requeue
  (``WorkDelegation.scala:124-135``, headers ``QueueItemHeaders.scala:11-26``).
- Queue stats (size/rate/ready/unacked/idleSince) that the priority
  orderings consume; completion rate is an EMA maintained by the
  engine itself (the reference polls RabbitMQ's management API —
  ``RabbitHttpClient.scala:36-68``).
- Logical rollup of per-resource-suffix queues
  (``QueueNaming.toLogicalQueueDetails:62-77``).
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import os
import threading
import time
from collections import deque
from dataclasses import dataclass, field
from datetime import datetime, timezone

from hyppo_worker_spark.generations import publish
from hyppo_worker_spark.model import WorkInput, WorkResource, sanitize_name
from hyppo_worker_spark.scheduler.priority import QueueDetails


def merge_queue_details(name: str, ds: list[QueueDetails]) -> QueueDetails:
    """``MultiQueueDetails`` aggregate semantics
    (``QueueDetails.scala:50-92``): size/ready/unacknowledged are sums;
    rate is the size-WEIGHTED mean ``Σ rate_i · size_i / Σ size_i``
    (a large slow queue drags the logical rate down — a plain sum
    would say two half-speed queues equal one full-speed one, which is
    false for the ETA ordering that consumes this); idleSince is the
    EARLIEST member's (the logical queue has been non-idle since any
    member was). A zero total size yields rate 0.0 (defined here; the
    Scala division produces NaN in that case, which no caller can use
    — ``estimatedCompletionTime`` short-circuits on ``isEmpty`` first).
    """
    size = sum(d.size for d in ds)
    if size > 0:
        rate = sum(d.rate * (d.size / size) for d in ds)
    else:
        rate = 0.0
    return QueueDetails(
        queue_name=name,
        size=size,
        rate=rate,
        ready=sum(d.ready for d in ds),
        unacknowledged=sum(d.unacknowledged for d in ds),
        idle_since=min(d.idle_since for d in ds),
    )


def stub_details(name: str) -> QueueDetails:
    """Stats for a queue the tracker has never seen — zeros with a
    fresh idleSince (``QueueMetricsTracker.unknownQueueDetails``:
    size 0, rate 0.0, ready 0, unacked 0, idleSince = now). The
    scheduler consults this when a resource names a queue that hasn't
    been declared yet, instead of erroring."""
    return QueueDetails(
        queue_name=name,
        size=0,
        rate=0.0,
        ready=0,
        unacknowledged=0,
        idle_since=datetime.now(timezone.utc),
    )


@dataclass(frozen=True)
class QueueNaming:
    prefix: str = "hyppo"

    @property
    def general(self) -> str:
        return f"{self.prefix}.general"

    @property
    def results(self) -> str:
        return f"{self.prefix}.results"

    @property
    def expired(self) -> str:
        return f"{self.prefix}.expired"

    def _integration_base(self, source_name: str, version: int) -> str:
        return f"{self.prefix}.integration.{sanitize_name(source_name)}-v{version}"

    def integration(
        self, source_name: str, version: int, resources: tuple[WorkResource, ...] = ()
    ) -> str:
        base = self._integration_base(source_name, version)
        if resources:
            digest = hashlib.md5(
                ",".join(sorted(f"{r.kind.value}:{r.name}" for r in resources)).encode()
            ).hexdigest()[:8]
            return f"{base}.{digest}"
        return base

    def belongs_to_integration(self, source_name: str, version: int, queue_name: str) -> bool:
        base = self._integration_base(source_name, version)
        return queue_name == base or queue_name.startswith(base + ".")

    def is_integration_queue(self, queue_name: str) -> bool:
        return queue_name.startswith(f"{self.prefix}.integration.")


@dataclass
class QueueItem:
    input: WorkInput
    enqueued_at: float
    ttl_s: float
    delivery_count: int = 0
    # Journal correlation id (0 = not journaled).
    jid: int = 0

    def expired(self, now: float) -> bool:
        return (now - self.enqueued_at) >= self.ttl_s


@dataclass
class Delivery:
    """An unacked in-flight item (delivery-tag analog)."""

    tag: int
    queue_name: str
    item: QueueItem
    redelivered: bool


@dataclass
class _Queue:
    name: str
    resources: tuple[WorkResource, ...] = ()
    items: deque = field(default_factory=deque)
    unacked: dict = field(default_factory=dict)
    idle_since: datetime = field(default_factory=lambda: datetime.now(timezone.utc))
    rate_ema: float = 0.0
    last_completion: float | None = None

    EMA_ALPHA = 0.3


class QueueJournal:
    """Append-only JSON-lines journal of queue state transitions — the
    durability analog of RabbitMQ message persistence: the reference's
    queues survive worker death and redeliver unacked work
    (``IdempotentWorkQueueingTests.scala:38-64``); without a journal,
    the in-memory table loses pending + unacked items on a driver
    crash.

    Events (one JSON object per line, correlated by journal id ``i``):
    ``enq`` (payload + queue + wall-clock ttl anchor + delivery count),
    ``get`` (delivered), ``ack``/``dl`` (terminal), ``rq`` (back to
    pending). Replay folds the log into the set of live items; recovery
    compacts the file to them (one fsynced replace), so it stays
    bounded by live-item count, not event count.

    Writes are group-committed: ``append`` buffers a line (and flushes
    it to the OS) under a short mutex and returns a sequence number;
    ``commit(seq)`` blocks until that sequence is fsync-durable, with a
    leader/follower protocol so one ``fsync`` covers every append that
    landed before it — concurrent committers and multi-event state
    transitions share a single disk flush instead of paying one each.
    The durability contract is unchanged: a broker method returns only
    after its events are on disk.
    """

    def __init__(self, path: str):
        self.path = path
        self._fh = open(path, "a", encoding="utf-8")  # noqa: SIM115
        self._append_mutex = threading.Lock()
        self._cv = threading.Condition()
        self._appended = 0  # last seq written+flushed to the OS
        self._durable = 0  # last seq known fsync'd
        self._fsync_leader = False

    def append(self, ev: dict) -> int:
        """Buffer one event line; returns its commit sequence number."""
        with self._append_mutex:
            self._fh.write(_line(ev))
            self._fh.flush()
            self._appended += 1
            return self._appended

    def commit(self, seq: int) -> None:
        """Block until event ``seq`` is fsync-durable (group commit):
        the first committer becomes the fsync leader and flushes
        everything appended so far; followers just wait for the leader
        to advance the durable watermark past their sequence."""
        while True:
            with self._cv:
                if self._durable >= seq:
                    return
                if self._fsync_leader:
                    self._cv.wait(timeout=1.0)
                    continue
                self._fsync_leader = True
            try:
                with self._append_mutex:
                    target = self._appended
                    fd = self._fh.fileno()
                os.fsync(fd)
            except BaseException:
                with self._cv:
                    self._fsync_leader = False
                    self._cv.notify_all()
                raise
            with self._cv:
                self._durable = max(self._durable, target)
                self._fsync_leader = False
                self._cv.notify_all()

    def log(self, ev: dict) -> None:
        """Append + commit one event (single-event convenience path)."""
        self.commit(self.append(ev))

    def close(self) -> None:
        try:
            with self._append_mutex:
                self._fh.flush()
                os.fsync(self._fh.fileno())
        except Exception:  # noqa: BLE001
            pass
        try:
            self._fh.close()
        except Exception:  # noqa: BLE001
            pass

    @staticmethod
    def replay(path: str) -> tuple[list[dict], int]:
        """Fold the journal into (live items, max journal id): each
        live item's ``enq`` event, ``n`` set to its delivery count.

        A record is live when its last event is ``enq``/``rq``
        (pending) or ``get`` (unacked at crash time — the engine never
        acked it, so at-least-once semantics demand redelivery;
        unsafe-persist work acks BEFORE running and therefore can
        never be live here, preserving at-most-once).

        Only the last line may fail to decode (a torn tail write);
        an earlier one raises rather than drop an ``enq`` or ``ack``.
        """
        state: dict[int, dict] = {}
        max_id = 0
        torn = None
        if not os.path.exists(path):
            return [], 0
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                if not line.strip():
                    continue
                if torn is not None:
                    raise ValueError(f"{path}:{torn}: corrupt journal line")
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    torn = lineno
                    continue
                i = ev.get("i", 0)
                max_id = max(max_id, i)
                kind = ev.get("ev")
                if kind == "enq":
                    state[i] = ev
                elif kind == "get" and i in state:
                    state[i]["n"] += 1
                elif kind == "ret" and i in state:
                    state[i]["n"] = max(0, state[i]["n"] - 1)
                elif kind in ("ack", "dl") and i in state:
                    del state[i]
                # "rq" leaves the record as-is: the item returns to
                # pending with its delivery count intact.
        return [state[i] for i in sorted(state)], max_id


def _line(ev: dict) -> str:
    return json.dumps(ev, separators=(",", ":")) + "\n"


def _committed(fn):
    """Method decorator: after the wrapped broker method returns (and
    has released the broker lock), fsync every journal event it staged
    — the group-commit half of the durability contract."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        try:
            return fn(self, *args, **kwargs)
        finally:
            self._commit_staged()

    return wrapper


class WorkQueueTable:
    """The broker: thread-safe queue set + TTL sweep + stats.

    With ``journal_path`` set, every state transition is journaled and
    a new table constructed over the same path recovers live work:
    pending items re-enqueue with their remaining wall-clock TTL, and
    items that were unacked at crash time are redelivered (their
    delivery counts survive, so the poison-message bound still holds
    across restarts).
    """

    def __init__(
        self,
        naming: QueueNaming | None = None,
        clock=time.monotonic,
        journal_path: str | None = None,
    ):
        self.naming = naming or QueueNaming()
        self._clock = clock
        self._lock = threading.RLock()
        self._queues: dict[str, _Queue] = {}
        self._tags = itertools.count(1)
        self._expired_items: deque[tuple[str, QueueItem]] = deque()
        self._journal: QueueJournal | None = None
        self._journal_path = journal_path
        self._jids = itertools.count(1)
        # Per-thread high-water mark of journal sequences appended but
        # not yet committed (fsync'd). Events are appended inside the
        # broker lock (so disk order == state-transition order) and
        # committed AFTER the lock is released, so a slow fsync never
        # serializes the broker and one fsync covers a whole
        # multi-event transition (group commit).
        self._staged = threading.local()
        self.ensure(self.naming.general)
        if journal_path is not None:
            self._recover(journal_path)

    # -- durability ----------------------------------------------------

    def _recover(self, journal_path: str) -> None:
        """Replay the journal and compact it to the live items' ``enq``
        lines (original ids, ttl anchors, current delivery counts) in
        one ``publish``: a crash at any step leaves the old journal or
        the compacted one, which replay to the same items."""
        from hyppo_worker_spark.model import deserialize_work

        live, max_id = QueueJournal.replay(journal_path)
        publish(journal_path, "".join(map(_line, live)))
        self._journal = QueueJournal(journal_path)
        self._jids = itertools.count(max_id + 1)
        now_wall = time.time()
        for ev in live:
            item = deserialize_work(ev["w"])
            self.ensure(ev["q"], item.resources)
            # an already-expired item gets ttl 0: the next sweep
            # dead-letters it rather than it silently vanishing
            ttl_s = max(ev["ttl"] - (now_wall - ev["wall"]), 0.0)
            self._queues[ev["q"]].items.append(
                QueueItem(item, self._clock(), ttl_s, ev["n"], ev["i"])
            )

    def _log(self, ev: dict) -> None:
        """Append an event to the journal (no fsync yet) and stage its
        sequence for ``_commit_staged``. Called with the broker lock
        held so journal order matches state order."""
        if self._journal is not None:
            seq = self._journal.append(ev)
            self._staged.seq = max(getattr(self._staged, "seq", 0), seq)

    def _commit_staged(self) -> None:
        """Fsync everything this thread staged via ``_log``. Called
        after the broker lock is released; a no-op when nothing was
        staged. Public methods return only after this, preserving the
        durable-before-return contract."""
        j = self._journal
        if j is None:
            return
        seq = getattr(self._staged, "seq", 0)
        if seq:
            self._staged.seq = 0
            j.commit(seq)

    def close_journal(self) -> None:
        if self._journal is not None:
            self._journal.close()
            self._journal = None

    def reopen_journal(self) -> None:
        """Resume journaling after ``close_journal`` (the engine-restart
        path): appends to the existing file — in-memory state and the
        on-disk log are already consistent at shutdown (requeues were
        logged before close), so no replay is needed."""
        if self._journal_path is not None and self._journal is None:
            self._journal = QueueJournal(self._journal_path)

    # -- queue management ---------------------------------------------

    def ensure(self, name: str, resources: tuple[WorkResource, ...] = ()) -> None:
        with self._lock:
            if name not in self._queues:
                self._queues[name] = _Queue(name=name, resources=resources)

    def queue_for(self, item: WorkInput) -> str:
        """Routing: integration-specific queue when the item names an
        integration (general for validate-only work), mirroring
        ``EnqueueWorkQueueProxy.scala:56-75``."""
        integ = item.integration
        if integ is None:
            return self.naming.general
        return self.naming.integration(
            integ.source_name, integ.version_number, item.resources
        )

    # -- enqueue / dequeue / ack --------------------------------------

    @_committed
    def enqueue(
        self, item: WorkInput, ttl_s: float = 3600.0, queue: str | None = None
    ) -> str:
        name = queue or self.queue_for(item)
        with self._lock:
            self.ensure(name, item.resources)
            qitem = QueueItem(
                input=item,
                enqueued_at=self._clock(),
                ttl_s=ttl_s,
                jid=next(self._jids),
            )
            self._queues[name].items.append(qitem)
            if self._journal is not None:
                from hyppo_worker_spark.model import serialize_work

                self._log(
                    {
                        "ev": "enq",
                        "i": qitem.jid,
                        "q": name,
                        "ttl": ttl_s,
                        "wall": time.time(),
                        "n": 0,
                        "w": serialize_work(item),
                    }
                )
        return name

    @_committed
    def basic_get(self, name: str) -> Delivery | None:
        """Pop without auto-ack: item moves to the unacked set."""
        with self._lock:
            q = self._queues.get(name)
            if not q:
                return None
            self._sweep_queue(q)
            if not q.items:
                return None
            item = q.items.popleft()
            item.delivery_count += 1
            tag = next(self._tags)
            d = Delivery(
                tag=tag,
                queue_name=name,
                item=item,
                redelivered=item.delivery_count > 1,
            )
            q.unacked[tag] = d
            self._log({"ev": "get", "i": item.jid})
            return d

    @_committed
    def ack(self, delivery: Delivery) -> None:
        with self._lock:
            q = self._queues[delivery.queue_name]
            if q.unacked.pop(delivery.tag, None) is not None:
                self._log({"ev": "ack", "i": delivery.item.jid})
            now = self._clock()
            if q.last_completion is not None:
                dt = max(now - q.last_completion, 1e-9)
                q.rate_ema = (1 - _Queue.EMA_ALPHA) * q.rate_ema + _Queue.EMA_ALPHA / dt
            q.last_completion = now
            q.idle_since = datetime.now(timezone.utc)

    @_committed
    def reject_requeue(
        self, delivery: Delivery, max_deliveries: int | None = None
    ) -> str:
        """Return an unacked item to the front of its queue
        (``basicReject(requeue=true)`` — ``TaskFSM.scala:135-140``).

        With ``max_deliveries`` set, an item that has already been
        delivered that many times is dead-lettered to the expired
        collection instead of requeued (poison-message policy; the
        reference exposes the redelivery flag for handlers to do this —
        ``QueueItemHeaders.scala:11-26``).

        Returns a tri-state so callers can tell the outcomes apart:
        ``"requeued"`` (will re-run), ``"dead_lettered"`` (terminal —
        dispatch the failure), or ``"unknown"`` (tag not in the unacked
        set — e.g. ``requeue_all_unacked`` already took it during a
        shutdown race; the item WILL re-run elsewhere, so the caller
        must NOT report a terminal failure).
        """
        with self._lock:
            q = self._queues[delivery.queue_name]
            if q.unacked.pop(delivery.tag, None) is None:
                return "unknown"
            if (
                max_deliveries is not None
                and delivery.item.delivery_count >= max_deliveries
            ):
                self._expired_items.append((q.name, delivery.item))
                self._log({"ev": "dl", "i": delivery.item.jid})
                return "dead_lettered"
            q.items.appendleft(delivery.item)
            self._log({"ev": "rq", "i": delivery.item.jid})
            return "requeued"

    @_committed
    def return_uncounted(self, delivery: Delivery) -> None:
        """Return a delivery whose item never reached execution (e.g.
        the delegation loop popped it but failed to lease resources).
        The delivery count is rolled back so contention bounces — which
        can happen hundreds of times while a resource is held — never
        eat into the poison-message budget; that budget bounds
        EXECUTION attempts, not queue pops."""
        with self._lock:
            q = self._queues[delivery.queue_name]
            if q.unacked.pop(delivery.tag, None) is None:
                return
            delivery.item.delivery_count = max(0, delivery.item.delivery_count - 1)
            q.items.appendleft(delivery.item)
            self._log({"ev": "ret", "i": delivery.item.jid})

    @_committed
    def dead_letter(self, delivery: Delivery) -> None:
        """Terminally remove an unacked delivery to the expired
        collection — the poison-message outcome for an item whose
        redelivery budget is exhausted (e.g. it crash-looped through
        engine restarts and came back with delivery_count > max)."""
        with self._lock:
            q = self._queues[delivery.queue_name]
            if q.unacked.pop(delivery.tag, None) is None:
                return
            self._expired_items.append((q.name, delivery.item))
            self._log({"ev": "dl", "i": delivery.item.jid})

    @_committed
    def requeue_all_unacked(self) -> int:
        """Return every unacked in-flight item to its queue — the
        worker-death path: a worker that dies (or is shut down) without
        acking leaves its deliveries to be redelivered
        (``IdempotentWorkQueueingTests.scala:38-64`` semantics). Unsafe
        persists ack before execution, so they are never in the unacked
        set mid-run and cannot be re-run by this. Returns the count."""
        with self._lock:
            n = 0
            for q in self._queues.values():
                for tag in list(q.unacked):
                    d = q.unacked.pop(tag)
                    q.items.appendleft(d.item)
                    self._log({"ev": "rq", "i": d.item.jid})
                    n += 1
            return n

    # -- TTL expiry ----------------------------------------------------

    def _sweep_queue(self, q: _Queue) -> None:
        now = self._clock()
        fresh = deque()
        for item in q.items:
            if item.expired(now):
                self._expired_items.append((q.name, item))
                self._log({"ev": "dl", "i": item.jid})
            else:
                fresh.append(item)
        q.items = fresh

    @_committed
    def sweep_expired(self) -> list[tuple[str, QueueItem]]:
        """Run the TTL sweep over all queues and drain the expired
        (dead-letter) collection."""
        with self._lock:
            for q in self._queues.values():
                self._sweep_queue(q)
            out = list(self._expired_items)
            self._expired_items.clear()
            return out

    # -- stats ---------------------------------------------------------

    def details(self, name: str) -> QueueDetails:
        with self._lock:
            q = self._queues[name]
            ready = len(q.items)
            unacked = len(q.unacked)
            return QueueDetails(
                queue_name=name,
                size=ready + unacked,
                rate=q.rate_ema,
                ready=ready,
                unacknowledged=unacked,
                idle_since=q.idle_since,
            )

    def all_details(self) -> list[QueueDetails]:
        with self._lock:
            return [self.details(n) for n in self._queues]

    def resources_of(self, name: str) -> tuple[WorkResource, ...]:
        with self._lock:
            q = self._queues.get(name)
            return q.resources if q else ()

    def logical_rollup(self) -> dict[str, QueueDetails]:
        """Group integration queues that share a logical base into one
        entry (``QueueNaming.toLogicalQueueDetails:62-77``: group key =
        the first path segment after the integration prefix, so the
        base queue AND every resource-suffixed variant fold together;
        the reference discards the groupBy key — ``.values`` — so
        keying the dict by the full logical base name is equivalent).
        Single-member groups return their details unchanged, matching
        ``seq.head``; multi-member groups merge with
        ``merge_queue_details`` (``MultiQueueDetails``,
        ``QueueDetails.scala:50-92``: summed sizes, size-WEIGHTED mean
        rate, earliest idleSince)."""
        with self._lock:
            prefix = f"{self.naming.prefix}.integration."
            groups: dict[str, list[QueueDetails]] = {}
            for name in self._queues:
                if name.startswith(prefix):
                    seg = name[len(prefix) :].split(".", 1)[0]
                    base = prefix + seg
                else:
                    base = name
                groups.setdefault(base, []).append(self.details(name))
            return {
                base: ds[0] if len(ds) == 1 else merge_queue_details(base, ds)
                for base, ds in groups.items()
            }
