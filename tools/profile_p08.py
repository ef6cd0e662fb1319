"""Itemize p08's per-batch fixed cost (VERDICT r7 item 2).

Runs the p08 flow at the given sf_dir with wall-clock timers wrapped
around each phase of the foreachBatch sink (batch pin/empty probe,
state read+scope joins, CC recompute, generation commit — its leading
GC timed separately) plus the setup (source-file writes) and the
framework overhead (drain minus sink time). Prints one table; no
behavior change to the sink.

Usage: python tools/profile_p08.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TIMES: dict[str, list[float]] = defaultdict(list)


def timed(label):
    def deco(fn):
        def wrap(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                TIMES[label].append(time.perf_counter() - t0)
        return wrap
    return deco


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from hyppo_worker_spark.generations import Generations
    from hyppo_worker_spark.session import get_spark
    from hyppo_worker_spark.streaming import incremental_cc as cc_mod
    from hyppo_worker_spark.operators import dedup as dedup_mod

    spark = get_spark()

    # instrument the generation commit (and its GC) + CC
    Generations._gc = timed("sink.commit_gc")(Generations._gc)
    Generations.commit = timed("sink.commit")(Generations.commit)
    # __call__ does `from ...operators.dedup import connected_components`
    # at call time, so the patch must land on the dedup module itself
    dedup_mod.connected_components = timed("sink.cc_recompute")(
        dedup_mod.connected_components
    )

    orig_call = cc_mod.IncrementalCCSink.__call__

    def timed_call(self, batch_df, batch_id):
        t0 = time.perf_counter()
        orig_call(self, batch_df, batch_id)
        TIMES["sink.total"].append(time.perf_counter() - t0)

    cc_mod.IncrementalCCSink.__call__ = timed_call

    # also split the state read + scope joins from CC: instrument state()
    cc_mod.IncrementalCCSink.state = timed("sink.state_read")(
        cc_mod.IncrementalCCSink.state
    )

    from hyppo_worker_spark.queries.pipeline_queries import (
        p08_streaming_incremental_cc,
    )

    # warm the JVM so the first-batch numbers aren't JVM warmup
    spark.range(1000).groupBy((F_col_id() % 10).alias("k")).count().collect()

    t0 = time.perf_counter()
    out = p08_streaming_incremental_cc(spark, sf_dir)
    n = out.count()
    total = time.perf_counter() - t0

    sink_total = sum(TIMES["sink.total"])
    print(f"\np08 @ {sf_dir}: end-to-end {total:.2f}s, result rows {n}")
    print(f"{'phase':<22}{'calls':>6}{'total_s':>9}  per-call")
    for label in (
        "sink.state_read",
        "sink.cc_recompute",
        "sink.commit",
        "sink.commit_gc",  # part of sink.commit
        "sink.total",
    ):
        ts = TIMES[label]
        per = " ".join(f"{t:.2f}" for t in ts)
        print(f"{label:<22}{len(ts):>6}{sum(ts):>9.2f}  [{per}]")
    other_sink = sink_total - sum(
        sum(TIMES[k]) for k in ("sink.state_read", "sink.cc_recompute",
                                "sink.commit")
    )
    print(f"{'sink other (pin/scope)':<22}{'':>6}{other_sink:>9.2f}")
    print(f"{'non-sink (setup+framework)':<26}{total - sink_total:>11.2f}")
    spark.stop()


def F_col_id():
    from pyspark.sql import functions as F

    return F.col("id")


if __name__ == "__main__":
    main()
