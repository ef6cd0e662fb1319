"""Streaming pipelines over an event stream.

Each builder takes a streaming DataFrame (``spark.readStream``) with
the events schema (event_id long, ts timestamp, user_id long,
event_type string, value double) and returns the transformed
streaming DataFrame; sinks are attached by the caller (tests use the
memory sink + ``processAllAvailable`` for deterministic drains).

Scale notes: watermarks bound the state store; the windowed
aggregates shuffle on (window, key) exactly like their batch
equivalents (q19); ``IdempotentBatchSink`` implements the
at-most-once ack-early guard that the engine's unsafe-persist ack
semantics require (``TaskFSM.scala:75-84`` analog: a batch that was
started is never re-run even after restart).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hyppo_worker_spark.generations import Generations

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event type with a watermark —
    the streaming twin of q19_event_time_windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication — the continuous-ingestion twin of
    the batch exact-dedup operator (``operators/dedup.py``): the first
    arrival of each key passes, replays and late duplicates are
    dropped.

    ``dropDuplicatesWithinWatermark`` keeps ONE state row per key and
    evicts it once the watermark passes, so state is bounded by the
    key arrival rate × watermark horizon — a plain ``dropDuplicates``
    on a stream would grow state forever. At 100 TB/day this is the
    dedup-at-the-door stage that keeps at-least-once upstream delivery
    (e.g. the engine's requeue-on-crash semantics) from double-feeding
    the corpus.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session-window aggregation (inactivity gap) per user — the
    streaming twin of q18_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Unbounded per-user running aggregates (update-mode state) —
    the streaming twin of q08_user_running_state."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("ts").alias("last_ts"),
    )


class IdempotentBatchSink:
    """foreachBatch sink with an at-most-once guard: each batch id is
    acked in the ``ack_dir`` pointer (``generations.py``) BEFORE the
    write runs; a replayed batch already acked is skipped, mirroring
    the engine's unsafe-persist contract (ack-early, never re-run)."""

    def __init__(self, ack_dir: str, write_fn):
        self.acks = Generations(ack_dir)
        self.write_fn = write_fn
        self.skipped: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.acks.done(batch_id):
            self.skipped.append(batch_id)
            return
        self.acks.ack(batch_id)
        self.write_fn(batch_df, batch_id)


def click_purchase_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each click pairs with purchases by
    the same user within ``within`` AFTER the click. Watermarks on both
    sides bound the join state store — without them the state grows
    unboundedly at scale."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select("click_id", "c_user", "click_ts", "purchase_ts", "purchase_value")
