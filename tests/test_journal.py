"""Durable-queue journal: pending + unacked work survives driver death
and is redelivered to the next engine — the RabbitMQ-persistence analog
of ``IdempotentWorkQueueingTests.scala:38-64``. Unsafe persists ack
before running (at-most-once), so a crash mid-run never re-runs them.
"""

from hyppo_worker_spark.model import ValidateIntegrationRequest
from hyppo_worker_spark.registry import IntegrationRegistry
from hyppo_worker_spark.scheduler.queues import WorkQueueTable
from hyppo_worker_spark.scheduler.scheduler import EngineConfig, HyppoEngine
from tests.fixtures import ProcessedDataStub


class Crash(Exception):
    """The injected failure."""


def _item(source="S"):
    stub = ProcessedDataStub()
    details = stub.details()
    return ValidateIntegrationRequest(integration=details)


def test_journal_recovers_pending_and_unacked(tmp_path):
    path = str(tmp_path / "queue.journal")
    q1 = WorkQueueTable(journal_path=path)
    name = q1.enqueue(_item())  # stays pending
    q1.enqueue(_item(), queue=name)  # delivered, acked (done)
    q1.enqueue(_item(), queue=name)  # delivered, NEVER acked (in flight)
    d_done = q1.basic_get(name)
    q1.ack(d_done)
    d_inflight = q1.basic_get(name)
    assert d_inflight is not None
    # crash: q1 simply abandoned, no shutdown, journal never closed

    q2 = WorkQueueTable(journal_path=path)
    st = q2.details(name)
    # acked item gone; pending + in-flight both recovered as ready
    assert st.ready == 2 and st.unacknowledged == 0

    # pending item delivers as count 1; the crashed in-flight one as
    # count 2 (its pre-crash delivery survived the restart)
    counts = sorted(q2.basic_get(name).item.delivery_count for _ in range(2))
    assert counts == [1, 2]


def test_journal_redelivered_flag_after_restart(tmp_path):
    path = str(tmp_path / "queue.journal")
    q1 = WorkQueueTable(journal_path=path)
    name = q1.enqueue(_item())
    q1.basic_get(name)  # in flight at crash

    q2 = WorkQueueTable(journal_path=path)
    d = q2.basic_get(name)
    assert d.redelivered  # delivery_count carried over the restart
    assert d.item.delivery_count == 2


def test_journal_acked_early_unsafe_never_redelivered(tmp_path):
    """Unsafe-persist path: the engine acks BEFORE running. After a
    crash mid-run, the journal shows the ack and must not redeliver."""
    path = str(tmp_path / "queue.journal")
    q1 = WorkQueueTable(journal_path=path)
    name = q1.enqueue(_item())
    d = q1.basic_get(name)
    q1.ack(d)  # early ack, then crash mid-execution

    q2 = WorkQueueTable(journal_path=path)
    assert q2.basic_get(name) is None  # queue empty (not even recreated)


def test_journal_compacts_on_recovery(tmp_path):
    path = str(tmp_path / "queue.journal")
    q1 = WorkQueueTable(journal_path=path)
    name = q1.enqueue(_item())
    for _ in range(5):  # churn: deliver + requeue repeatedly
        d = q1.basic_get(name)
        q1.reject_requeue(d)
    lines_before = sum(1 for _ in open(path))
    assert lines_before == 11  # 1 enq + 5*(get+rq)

    WorkQueueTable(journal_path=path)
    lines_after = sum(1 for _ in open(path))
    assert lines_after == 1  # compacted to the single live item


def test_journal_tolerates_torn_tail_write(tmp_path):
    path = str(tmp_path / "queue.journal")
    q1 = WorkQueueTable(journal_path=path)
    name = q1.enqueue(_item())
    q1.enqueue(_item(), queue=name)
    with open(path, "a") as fh:
        fh.write('{"ev":"ack","i"')  # crash mid-write

    q2 = WorkQueueTable(journal_path=path)
    assert q2.details(name).ready == 2


def test_engine_restart_redelivers_idempotent_work(spark, storage, tmp_path):
    """Kill an engine mid-run (simulated): the next engine constructed
    over the same journal runs the abandoned work exactly once."""
    path = str(tmp_path / "engine.journal")
    stub = ProcessedDataStub()

    reg1 = IntegrationRegistry()
    reg1.register(stub)
    eng1 = HyppoEngine(
        spark, reg1, storage, EngineConfig(journal_path=path)
    )
    eng1.submit(ValidateIntegrationRequest(integration=stub.details()))
    # simulate the crash: delegation leased the delivery but the driver
    # died before the operation ran (no ack ever written)
    got = eng1._next_delivery(eng1._slots[0])
    assert got is not None
    del eng1  # no shutdown — worker death

    reg2 = IntegrationRegistry()
    reg2.register(stub)
    eng2 = HyppoEngine(
        spark, reg2, storage, EngineConfig(journal_path=path)
    )
    completed = []
    eng2.responses.on_completed(completed.append)
    assert eng2.run_until_idle() == 1  # redelivered exactly once
    assert len(completed) == 1
    assert completed[0].input.operation.value == "ValidateIntegration"

    # a third engine sees a fully-drained journal
    eng3 = HyppoEngine(
        spark, IntegrationRegistry(), storage, EngineConfig(journal_path=path)
    )
    assert eng3.run_until_idle() == 0


def test_poison_crash_loop_dead_letters_after_max(spark, storage, tmp_path):
    """End-to-end poison policy across engine restarts: work that is
    in flight at every crash keeps its delivery count through the
    journal; once the count exceeds max_deliveries the next engine
    dead-letters it to the expired callback instead of running it."""
    path = str(tmp_path / "poison.journal")
    stub = ProcessedDataStub()
    max_deliveries = 3

    for _ in range(max_deliveries):  # each loop: deliver, then "crash"
        reg = IntegrationRegistry()
        reg.register(stub)
        eng = HyppoEngine(
            spark, reg, storage,
            EngineConfig(journal_path=path, max_deliveries=max_deliveries),
        )
        if not any(d.size for d in eng.queues.all_details()):
            eng.submit(ValidateIntegrationRequest(integration=stub.details()))
        got = eng.queues.basic_get("hyppo.integration.Test_Source-v1")
        assert got is not None  # leased, engine dies before acking
        del eng

    reg = IntegrationRegistry()
    reg.register(stub)
    eng = HyppoEngine(
        spark, reg, storage,
        EngineConfig(journal_path=path, max_deliveries=max_deliveries),
    )
    expired, completed = [], []
    eng.responses.on_expired(expired.append)
    eng.responses.on_completed(completed.append)
    eng.run_until_idle()  # one delegation cycle: dead-letter, no execution
    assert completed == []
    assert len(expired) == 1
    assert expired[0].operation.value == "ValidateIntegration"
    # nothing left anywhere; the journal is terminal for the item
    eng2 = HyppoEngine(
        spark, IntegrationRegistry(), storage,
        EngineConfig(journal_path=path, max_deliveries=max_deliveries),
    )
    assert eng2.run_until_idle() == 0


def test_recovery_crash_mid_compaction_loses_nothing(tmp_path, monkeypatch):
    """A crash right after any filesystem step of a real _recover (the
    fsync of the compacted copy, its replace over the journal) leaves
    the old journal or the compacted one; the next recovery redelivers
    every live item exactly once, under its original journal id and
    delivery count, and leaves no temp file behind."""
    import os
    import shutil

    path = str(tmp_path / "queue.journal")
    q1 = WorkQueueTable(journal_path=path)
    name = q1.enqueue(_item())
    for _ in range(2):
        q1.enqueue(_item(), queue=name)
    q1.ack(q1.basic_get(name))  # acked: never redelivered
    in_flight = q1.basic_get(name).item  # unacked at the crash
    pending = q1._queues[name].items[0]
    want = [(in_flight.jid, 2), (pending.jid, 1)]
    q1.close_journal()
    shutil.copy(path, path + ".pre")

    k = 0
    while True:
        k += 1
        shutil.copy(path + ".pre", path)
        steps = 0

        def counted(real):
            def wrapped(*a, **kw):
                nonlocal steps
                out = real(*a, **kw)
                steps += 1
                if steps == k:
                    raise Crash(k)
                return out

            return wrapped

        with monkeypatch.context() as m:
            for fn in ("fsync", "replace"):
                m.setattr(os, fn, counted(getattr(os, fn)))
            try:
                WorkQueueTable(journal_path=path).close_journal()
                break  # k is past the last step
            except Crash:
                pass
        q2 = WorkQueueTable(journal_path=path)
        assert q2.details(name).ready == 2  # nothing lost
        assert not os.path.exists(path + ".tmp")  # compaction completed
        got = sorted(
            (d.item.jid, d.item.delivery_count)
            for d in (q2.basic_get(name), q2.basic_get(name))
        )
        assert got == want, f"k={k}"
        assert q2.basic_get(name) is None, f"k={k}: redelivered twice"
        q2.close_journal()
    assert k - 1 == 2  # the compacted copy's fsync, its replace


def test_journal_corrupt_middle_line_raises(tmp_path):
    """A line that does not decode is tolerated only as the torn tail
    of a crashed append: anywhere earlier it would silently drop an
    ``enq`` or an ``ack``, so recovery refuses the journal."""
    import pytest

    path = str(tmp_path / "queue.journal")
    q1 = WorkQueueTable(journal_path=path)
    name = q1.enqueue(_item())
    q1.ack(q1.basic_get(name))
    q1.close_journal()
    with open(path) as fh:
        enq, get, ack = fh.readlines()
    with open(path, "w") as fh:
        fh.write(enq + get + ack[: len(ack) // 2] + "\n" + ack)
    with pytest.raises(ValueError, match="corrupt journal line"):
        WorkQueueTable(journal_path=path)
    with open(path, "w") as fh:  # the same bytes as a torn tail are fine
        fh.write(enq + get + ack[: len(ack) // 2])
    assert WorkQueueTable(journal_path=path).details(name).ready == 1


def test_contention_bounce_does_not_consume_poison_budget(tmp_path):
    """A delivery returned via return_uncounted (resource contention —
    the item never ran) rolls its delivery count back, in memory and
    through the journal."""
    path = str(tmp_path / "queue.journal")
    q1 = WorkQueueTable(journal_path=path)
    name = q1.enqueue(_item())
    for _ in range(50):  # starvation: bounced 50 times without running
        d = q1.basic_get(name)
        q1.return_uncounted(d)

    d = q1.basic_get(name)
    assert d.item.delivery_count == 1  # bounces never counted
    q1.return_uncounted(d)

    # and the rollback survives a restart
    q2 = WorkQueueTable(journal_path=path)
    d2 = q2.basic_get(name)
    assert d2.item.delivery_count == 1


def test_journal_replay_matches_model_random_ops(tmp_path):
    """Property: after ANY op sequence, recovery reconstructs exactly
    the model's live set with the model's delivery counts."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=30,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(st.integers(0, 4), min_size=1, max_size=40))
    def run(ops):
        path = str(tmp_path / f"prop-{abs(hash(tuple(ops)))}.journal")
        q = WorkQueueTable(journal_path=path)
        name = q.enqueue(_item())
        model = {q._queues[name].items[0].jid: 0}  # jid -> delivery_count
        in_flight = {}  # tag -> (jid, delivery)
        for op in ops:
            if op == 0:  # enqueue
                q.enqueue(_item(), queue=name)
                model[q._queues[name].items[-1].jid] = 0
            elif op == 1:  # deliver
                d = q.basic_get(name)
                if d is not None:
                    model[d.item.jid] += 1
                    in_flight[d.tag] = (d.item.jid, d)
            elif op == 2 and in_flight:  # ack
                tag, (jid, d) = next(iter(in_flight.items()))
                q.ack(d)
                del in_flight[tag]
                del model[jid]
            elif op == 3 and in_flight:  # requeue (counted)
                tag, (jid, d) = next(iter(in_flight.items()))
                q.reject_requeue(d)
                del in_flight[tag]
            elif op == 4 and in_flight:  # contention return (uncounted)
                tag, (jid, d) = next(iter(in_flight.items()))
                q.return_uncounted(d)
                del in_flight[tag]
                model[jid] -= 1
        q.close_journal()

        q2 = WorkQueueTable(journal_path=path)
        recovered = {}
        while True:
            d = q2.basic_get(name) if name in q2._queues else None
            if d is None:
                break
            recovered[d.item.jid] = d.item.delivery_count - 1  # undo the get
        # jids differ across tables; compare as multisets of counts
        assert sorted(recovered.values()) == sorted(model.values())

    run()


def test_multislot_journaled_engine_drains_concurrently(spark, storage, tmp_path):
    """4 worker slots against one journaled broker: every item executes
    exactly once, and a fresh engine over the journal finds nothing."""
    path = str(tmp_path / "multi.journal")
    stub = ProcessedDataStub()
    reg = IntegrationRegistry()
    reg.register(stub)
    eng = HyppoEngine(
        spark, reg, storage,
        EngineConfig(worker_count=4, journal_path=path),
    )
    completed = []
    eng.responses.on_completed(lambda r: completed.append(r.input.execution_id))
    n_items = 12
    for _ in range(n_items):
        eng.submit(ValidateIntegrationRequest(integration=stub.details()))
    assert eng.run_until_idle() == n_items
    assert len(completed) == n_items
    assert len(set(completed)) == n_items  # every execution exactly once

    eng2 = HyppoEngine(
        spark, IntegrationRegistry(), storage, EngineConfig(journal_path=path)
    )
    assert eng2.run_until_idle() == 0  # journal fully drained


def test_recovery_dispatches_work_expired_during_downtime(spark, storage, tmp_path):
    """An item whose wall-clock TTL elapsed while no engine was running
    dead-letters to the expired handlers on the next engine instead of
    silently vanishing or running stale."""
    import time as _time

    path = str(tmp_path / "exp.journal")
    stub = ProcessedDataStub()
    reg = IntegrationRegistry()
    reg.register(stub)
    eng1 = HyppoEngine(spark, reg, storage, EngineConfig(journal_path=path))
    eng1.submit(
        ValidateIntegrationRequest(integration=stub.details()), ttl_s=0.05
    )
    del eng1  # crash with the item pending
    _time.sleep(0.1)  # downtime exceeds the TTL

    reg2 = IntegrationRegistry()
    reg2.register(stub)
    eng2 = HyppoEngine(spark, reg2, storage, EngineConfig(journal_path=path))
    expired, completed = [], []
    eng2.responses.on_expired(expired.append)
    eng2.responses.on_completed(completed.append)
    eng2.run_until_idle()
    assert completed == []
    assert len(expired) == 1


def test_group_commit_one_fsync_per_transition(tmp_path, monkeypatch):
    """A broker method that journals N events (a sweep dead-lettering
    several expired items at once) pays ONE fsync, not N — the staged
    events commit together after the lock is released."""
    import os as _os

    table = WorkQueueTable(journal_path=str(tmp_path / "gc.journal"))
    for _ in range(5):
        table.enqueue(_item(), ttl_s=0.0)  # expire immediately

    calls = []
    real_fsync = _os.fsync
    monkeypatch.setattr(
        "hyppo_worker_spark.scheduler.queues.os.fsync",
        lambda fd: (calls.append(fd), real_fsync(fd))[1],
    )
    expired = table.sweep_expired()
    assert len(expired) == 5  # five dl events journaled...
    assert len(calls) == 1  # ...one fsync

    # Recovery agrees the items are gone (dead-lettered, not live).
    table.close_journal()
    table2 = WorkQueueTable(journal_path=str(tmp_path / "gc.journal"))
    assert table2.basic_get(table2.naming.general) is None


def test_group_commit_concurrent_writers_consistent(tmp_path):
    """Hammer one journaled broker from several threads; every item is
    durable (a fresh table recovers exactly the un-acked survivors)."""
    import threading as _threading

    path = str(tmp_path / "cc.journal")
    table = WorkQueueTable(journal_path=path)
    n_threads, per_thread = 6, 20

    def worker(k):
        for i in range(per_thread):
            q = table.enqueue(_item(source=f"S{k}"))
            if i % 2 == 0:  # ack half, leave half pending
                d = table.basic_get(q)
                if d is not None:
                    table.ack(d)

    threads = [
        _threading.Thread(target=worker, args=(k,)) for k in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    table.close_journal()

    # Count live items in memory vs what a recovery replays.
    live_mem = sum(
        len(q.items) + len(q.unacked) for q in table._queues.values()
    )
    table2 = WorkQueueTable(journal_path=path)
    live_rec = sum(
        len(q.items) + len(q.unacked) for q in table2._queues.values()
    )
    assert live_rec == live_mem
