"""Tests of the benchmark's own metric math and oracle check.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import time

import pyarrow.compute as pc
import pyarrow.json as pj
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, report
from perfbench.stats import (
    failed_share,
    lane_rate,
    percentile,
    samples_beyond,
    supported_percentile,
)
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert percentile(xs, 50) == 5
    assert percentile(xs, 90) == 9
    assert percentile(xs, 100) == 10


def test_tail_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(99)]
    assert samples_beyond(99, 90) == 9
    assert supported_percentile(xs, 90) is None
    xs.append(99.0)
    assert samples_beyond(100, 90) == 10
    assert supported_percentile(xs, 90) == 89.0
    # the median of 21 samples has 10 beyond it
    assert supported_percentile([float(i) for i in range(21)], 50) == 10.0
    assert supported_percentile([float(i) for i in range(19)], 50) is None


def test_failed_share():
    assert failed_share(0, 12) == 0.0
    assert failed_share(3, 12) == 0.25
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(5, 4)


def test_lane_rate_counts_whole_units_per_lane():
    # lane 0: 40 records in 8 s; lane 1: 10 records in 5 s
    rate = lane_rate(
        [(0.0, [2.0, 4.0, 6.0, 8.0], [10, 10, 10, 10]), (1.0, [3.0, 6.0], [5, 5])]
    )
    assert rate == pytest.approx(40 / 8 + 10 / 5)
    with pytest.raises(ValueError):
        lane_rate([(0.0, [], [])])


@pytest.fixture(scope="module")
def bulk_inputs(tmp_path_factory):
    return inputs.generate("bulk_raw", 7, str(tmp_path_factory.mktemp("in")))


def _persist(tbl, out: str) -> None:
    os.makedirs(out)
    pq.write_table(tbl, os.path.join(out, "part-0.parquet"))


def test_oracle_accepts_faithful_output(bulk_inputs, tmp_path):
    produced = {}
    for i, src in enumerate(bulk_inputs.files[:3]):
        out = str(tmp_path / "out" / f"task-{i}")
        _persist(pj.read_json(src), out)
        produced[out] = src
    assert inputs.check_outputs(bulk_inputs, produced) == []
    assert all(n > 0 for n in bulk_inputs.counts.values())


def test_oracle_rejects_corrupted_output(bulk_inputs, tmp_path):
    src = bulk_inputs.files[0]
    out = str(tmp_path / "out" / "task-1")
    tbl = pj.read_json(src)
    qty = tbl.column("qty").to_pylist()
    qty[0] += 1  # one value off by one
    tbl = tbl.set_column(tbl.schema.get_field_index("qty"), "qty", [qty])
    _persist(tbl, out)
    problems = inputs.check_outputs(bulk_inputs, {out: src})
    assert [p[0] for p in problems] == [out]


def test_oracle_rejects_dropped_rows(bulk_inputs, tmp_path):
    src = bulk_inputs.files[1]
    out = str(tmp_path / "out" / "task-2")
    tbl = pj.read_json(src)
    _persist(tbl.filter(pc.not_equal(tbl["id"], tbl["id"][0])), out)
    assert len(inputs.check_outputs(bulk_inputs, {out: src})) == 1


def test_oracle_rejects_missing_output(bulk_inputs, tmp_path):
    out = str(tmp_path / "out" / "never-written")
    assert len(inputs.check_outputs(bulk_inputs, {out: bulk_inputs.files[0]})) == 1


def test_inputs_repeat_for_a_seed(tmp_path):
    a = inputs.generate("bulk_raw", 3, str(tmp_path / "a"))
    b = inputs.generate("bulk_raw", 3, str(tmp_path / "b"))
    c = inputs.generate("bulk_raw", 4, str(tmp_path / "c"))
    key = lambda inp: [inp.expected[f] for f in inp.files]  # noqa: E731
    assert key(a) == key(b)
    assert key(a) != key(c)


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == report.END_TO_END
    assert layers == report.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["bulk_raw", "query_mix"]


class _SlowPrioritizer:
    """Orders queues as given, sleeping before each one it yields."""

    def __init__(self, pause_s: float):
        self.pause_s = pause_s

    def prioritize(self, queues):
        for q in queues:
            time.sleep(self.pause_s)
            yield q


def test_tracer_times_the_iteration_of_a_generator():
    """Delegation returns a generator that does its work (contention
    filter, prioritizer) while the scheduler iterates it: the traced
    time must cover that, not just the call that makes the generator."""
    from hyppo_worker_spark.scheduler.delegation import (
        DefaultDelegationStrategy,
        WorkQueueMetrics,
    )
    from hyppo_worker_spark.scheduler.priority import QueueDetails
    from hyppo_worker_spark.scheduler.resources import RecentResourceContention

    queues = [
        WorkQueueMetrics(QueueDetails(f"q{i}", size=1, rate=0.0, ready=1, unacknowledged=0))
        for i in range(3)
    ]
    general = WorkQueueMetrics(QueueDetails("general", 0, 0.0, 0, 0))
    strategy = DefaultDelegationStrategy(
        _SlowPrioritizer(0.02), RecentResourceContention(retention_max_s=60.0)
    )
    orig = DefaultDelegationStrategy.priority_order_without_affinity
    tracer = Tracer()
    tracer.wrap(DefaultDelegationStrategy, "priority_order_without_affinity", "delegate")
    try:
        order = strategy.priority_order_without_affinity(general, queues)
        assert tracer.totals["delegate"] == 0.0  # nothing ran yet
        names = [q.queue_name for q in order]
        # a caller that stops early is booked for the steps it took
        first = next(iter(strategy.priority_order_without_affinity(general, queues)))
    finally:
        tracer.close()
    assert names == ["q0", "q1", "q2"]
    assert first.queue_name == "q0"
    assert tracer.calls["delegate"] == 2
    assert tracer.totals["delegate"] >= 4 * 0.02
    assert DefaultDelegationStrategy.priority_order_without_affinity is orig


def test_tracer_times_plain_calls_and_restores_them():
    class Layer:
        def work(self, pause_s):
            time.sleep(pause_s)
            return pause_s

    orig = Layer.work
    tracer = Tracer()
    tracer.wrap(Layer, "work", "layer")
    assert Layer().work(0.01) == 0.01
    tracer.close()
    assert Layer.work is orig
    assert tracer.calls["layer"] == 1
    assert tracer.totals["layer"] >= 0.01
