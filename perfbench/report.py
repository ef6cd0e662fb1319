"""Turn one workload's window into metrics: the end-to-end set, the
traced per-layer set, the oracle check and the printed layer report."""

from __future__ import annotations

from time import perf_counter

from perfbench.querymix import ROWS as QUERY_ROWS
from perfbench.stats import lane_rate, median, supported_percentile

END_TO_END = {
    "setup_s": "s",
    "unit_latency_p50_s": "s",
    "records_per_s": "1/s",
}

OPS = ("create_tasks", "fetch_raw", "process_raw", "persist", "job_completed")
STORAGE = ("upload_raw", "download_raw", "write_records", "read_records")

PER_LAYER = {
    "scheduler.queue_wait_p50_s": "s",
    "scheduler.queue_ops_s_per_item": "s",
    "scheduler.delegate_s_per_item": "s",
    "scheduler.slot_busy_share": "share",
    "scheduler.items_per_job": "count",
    **{f"operations.{op}_p50_s": "s" for op in OPS},
    "operations.spark_jobs_per_item": "count",
    "operations.log_upload_s_per_item": "s",
    **{f"storage.{s}_s_per_task": "s" for s in STORAGE},
    "storage.bytes_hashed_per_record": "B",
    "sources.write_avro_s_per_task": "s",
    "integration.connector_s_per_item": "s",
    "session.spark_start_s": "s",
    "session.job_floor_s": "s",
    "session.peak_rss_mb": "MB",
    **{
        f"queries.{row}.{m}": u
        for row in QUERY_ROWS
        for m, u in (("wall_s", "s"), ("plan_s", "s"), ("spark_jobs", "count"))
    },
    "trace.overhead_share": "share",
    "trace.attributed_share": "share",
}


def with_units(metrics: dict[str, float]) -> dict[str, dict]:
    units = {**END_TO_END, **PER_LAYER}
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


def _is_engine(load) -> bool:
    return hasattr(load, "engine")


def window(
    load, seconds: float, settle: int = 0
) -> tuple[dict[str, float], list[float], float]:
    """One measured window, after ``settle`` unmeasured units: the
    end-to-end metrics except set-up, the unit latencies, and
    the wall time."""
    t0 = perf_counter()
    if _is_engine(load):
        load.run_window(seconds, settle)
        lanes = list(load.lanes.values())
        records = lane_rate([(ln.start, ln.done, ln.records) for ln in lanes])
        latency = [x for ln in lanes for x in ln.latency]
    else:
        start, ends = load.run_window(seconds, settle)
        records = lane_rate([(start, ends, [load.input_rows] * len(ends))])
        latency = [b - a for a, b in zip([start] + ends, ends)]
    metrics = {
        "unit_latency_p50_s": median(latency),
        "records_per_s": records,
    }
    return metrics, latency, perf_counter() - t0


def _install(tracer, load) -> None:
    from hyppo_worker_spark.scheduler.delegation import DefaultDelegationStrategy
    from hyppo_worker_spark.scheduler.queues import WorkQueueTable
    from hyppo_worker_spark.scheduler.resources import ResourcePool
    from hyppo_worker_spark.sources import avro_container
    from hyppo_worker_spark.storage import DataFileHandler

    for attr in ("enqueue", "basic_get", "ack"):
        tracer.wrap(WorkQueueTable, attr, "scheduler.queue_ops")
    for attr in ("priority_order_without_affinity", "priority_order_with_preference"):
        tracer.wrap(DefaultDelegationStrategy, attr, "scheduler.delegate")
    tracer.wrap(ResourcePool, "acquire_all", "scheduler.delegate")
    for attr in STORAGE:
        tracer.wrap(DataFileHandler, attr, f"storage.{attr}")
    tracer.wrap(DataFileHandler, "upload_log", "operations.log_upload")
    # write_records imports write_avro from the module at call time.
    tracer.wrap(avro_container, "write_avro", "sources.write_avro")
    feed = type(load.feed)
    for attr in ("create_tasks", "fetch_raw", "process_raw", "persist", "on_job_completed"):
        tracer.wrap(feed, attr, "integration.connector")


def traced_window(load, seconds: float) -> tuple[dict, dict, list[str]]:
    """The same window with every layer's entry points wrapped; returns
    the traced end-to-end metrics, the per-layer metrics and the
    reconciliation lines."""
    from perfbench.trace import Tracer

    layers = dict.fromkeys(PER_LAYER, 0.0)
    if not _is_engine(load):
        first = len(load.runs)
        e2e, _, span = window(load, seconds)
        runs = load.runs[first:]
        for row in QUERY_ROWS:
            mine = [r for r in runs if r.row == row]
            layers[f"queries.{row}.wall_s"] = median([r.wall for r in mine])
            layers[f"queries.{row}.plan_s"] = median([r.plan for r in mine])
            layers[f"queries.{row}.spark_jobs"] = median([r.spark_jobs for r in mine])
        rows_time = sum(r.wall for r in runs)
        layers["trace.attributed_share"] = rows_time / span
        lines = [f"  rows inside passes: {rows_time:.3f}s of {span:.3f}s window"]
        return e2e, layers, lines

    tracer = Tracer()
    load.items = {}
    _install(tracer, load)
    jobs_before = set(load.jobs)
    try:
        e2e, _, span = window(load, seconds)
    finally:
        tracer.close()
    items, load.items = [i for i in load.items.values() if i.finished], None
    jobs = [j for k, j in load.jobs.items() if k not in jobs_before]
    n = len(items)
    op_time = sum(i.finished - i.started for i in items)
    t = tracer.totals
    layers.update(
        {
            "scheduler.queue_wait_p50_s": median([i.started - i.submitted for i in items]),
            "scheduler.queue_ops_s_per_item": t["scheduler.queue_ops"] / n,
            "scheduler.delegate_s_per_item": t["scheduler.delegate"] / n,
            "scheduler.slot_busy_share": op_time / (load.engine.config.worker_count * span),
            "scheduler.items_per_job": n / len(jobs),
            "operations.spark_jobs_per_item": sum(i.spark_jobs for i in items) / n,
            "operations.log_upload_s_per_item": t["operations.log_upload"] / n,
            "storage.bytes_hashed_per_record": sum(j.hashed_bytes for j in jobs)
            / sum(j.records for j in jobs),
            "sources.write_avro_s_per_task": tracer.per_call("sources.write_avro"),
            "integration.connector_s_per_item": t["integration.connector"] / n,
        }
    )
    for op in OPS:
        xs = [i.finished - i.started for i in items if i.op == op]
        layers[f"operations.{op}_p50_s"] = median(xs) if xs else 0.0
    for s in STORAGE:
        layers[f"storage.{s}_s_per_task"] = tracer.per_call(f"storage.{s}")
    inner = t["integration.connector"] + sum(t[f"storage.{s}"] for s in STORAGE)
    layers["trace.attributed_share"] = inner / op_time
    return e2e, layers, _reconcile(items, tracer, op_time)


def _reconcile(items, tracer, op_time: float) -> list[str]:
    """Per operation: count, p50 and total time, beside the time the
    wrapped inner layers spent inside operations."""
    lines = []
    for op in OPS:
        xs = [i.finished - i.started for i in items if i.op == op]
        if xs:
            lines.append(f"  {op:16s} n={len(xs):4d} p50={median(xs):.4f}s total={sum(xs):.3f}s")
    inner = {k: v for k, v in tracer.totals.items() if k.startswith(("storage.", "integration."))}
    for k, v in sorted(inner.items()):
        lines.append(f"  inside ops: {k:28s} total={v:.3f}s calls={tracer.calls[k]}")
    lines.append(
        f"  connector + storage = {sum(inner.values()):.3f}s of {op_time:.3f}s "
        "operation time; the rest is engine code between them"
    )
    return lines


def print_report(
    workload: str,
    untraced: dict,
    latency: list[float],
    traced: dict,
    after: dict,
    layers: dict,
    lines: list[str],
) -> None:
    print(f"== {workload}: end-to-end, untraced / traced / untraced again")
    for k in ("unit_latency_p50_s", "records_per_s"):
        print(f"  {k:22s} {untraced[k]:.6g} / {traced[k]:.6g} / {after[k]:.6g}")
    p90 = supported_percentile(latency, 90)
    print(
        f"  latency samples={len(latency)}; p90 "
        + (f"= {p90:.4f}s" if p90 is not None else "not reported (needs 10 samples beyond it)")
    )
    print(
        "  tracing overhead on unit_latency_p50_s, against the mean of the "
        f"untraced windows: {layers['trace.overhead_share']:+.2%}"
    )
    print("== per-layer")
    for k, v in layers.items():
        print(f"  {k:44s} {v:.6g} {PER_LAYER[k]}")
    print("== reconciliation")
    for line in lines:
        print(line)


def check(load) -> tuple[int, int]:
    """(failed, attempted) for everything ``load`` ran."""
    if _is_engine(load):
        return load.check(), len(load.jobs)
    return load.check(load.runs), len(load.runs)
