"""Incremental sketch maintenance: keep a tiny per-day HLL sketch
table continuously up to date as events stream in, so "distinct users
over any day range" is answered by unioning a handful of sketch blobs
— never by re-scanning raw events.

This is the streaming realization of the q44 rollup: q44 builds the
per-day sketches in one batch pass; this sink MAINTAINS them across
micro-batches. Per batch (foreachBatch):

1. aggregate the batch into per-day sketches (one small shuffle over
   the batch only);
2. merge into the persisted table with a full-outer join on day +
   ``hll_union`` — day cardinality rows, bytes-sized work;
3. rewrite the table (it is sketch-count sized, not event-count
   sized; the rewrite is O(days), object-store friendly).

Each rewrite is a generation commit (`generations.py`): the pointer
flip that publishes the new table also acks the batch, so a crash
anywhere before it replays the batch against the pre-batch table
instead of dropping it, and a replayed ACKED batch is skipped. It
must be: HLL union is idempotent for identical inputs, but the count
column alongside it is not.

At 100 TB the same shape holds: the raw events append to their own
sink; this side table stays kilobytes per day, and dashboards union
sketches instead of scanning events.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyppo_worker_spark.generations import Generations


class SketchRollupSink:
    """foreachBatch callable maintaining (day, sketch, n_events)."""

    def __init__(self, spark: SparkSession, base_dir: str) -> None:
        self.spark = spark
        self.table_dir = os.path.join(base_dir, "day_sketches")
        self.gens = Generations(self.table_dir)

    def _batch_sketches(self, batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
                "user_id",
            )
            .groupBy("day")
            .agg(
                F.hll_sketch_agg("user_id").alias("sketch"),
                F.count(F.lit(1)).alias("n_events"),
            )
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.gens.done(batch_id):
            return
        new = self._batch_sketches(batch_df)
        if self.gens.exists():
            old = self.gens.read(self.spark)
            merged = (
                old.select(
                    "day",
                    F.col("sketch").alias("o_sketch"),
                    F.col("n_events").alias("o_n"),
                )
                .join(
                    new.select(
                        "day",
                        F.col("sketch").alias("n_sketch"),
                        F.col("n_events").alias("n_n"),
                    ),
                    "day",
                    "full_outer",
                )
                .select(
                    "day",
                    F.when(
                        F.col("o_sketch").isNotNull()
                        & F.col("n_sketch").isNotNull(),
                        F.hll_union("o_sketch", "n_sketch"),
                    )
                    .otherwise(F.coalesce("o_sketch", "n_sketch"))
                    .alias("sketch"),
                    (
                        F.coalesce("o_n", F.lit(0)) + F.coalesce("n_n", F.lit(0))
                    ).alias("n_events"),
                )
            )
        else:
            merged = new
        self.gens.commit(merged, batch_id)

    # -- query side ---------------------------------------------------------

    def estimates(self) -> DataFrame:
        """Per-day distinct-user estimates + the union-of-sketches
        TOTAL row — no event scan anywhere."""
        t = self.gens.read(self.spark)
        per_day = t.select(
            "day",
            F.hll_sketch_estimate("sketch").alias("est_users"),
            "n_events",
        )
        total = t.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
            F.sum("n_events").alias("n_events"),
        ).select(F.lit("TOTAL").alias("day"), "est_users", "n_events")
        return per_day.unionByName(total)


def maintain_sketches(
    events: DataFrame, sink: SketchRollupSink, checkpoint_dir: str
):
    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class CmsRollupSink:
    """foreachBatch callable maintaining the relational count-min
    counter table (`operators/sketches.py`) over a token stream —
    heavy-hitter queries run against a (depth, bucket, count) table
    that never grows with the corpus, and incremental maintenance is
    EXACT: merging per-batch counters by addition reproduces the
    from-scratch sketch bit-for-bit (the test pins equality, a
    stronger contract than HLL's tolerance-checked estimates).

    Replay guard: counter addition is NOT idempotent, so the same
    ack-by-generation-commit contract as SketchRollupSink applies.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        *,
        depth: int = 4,
        width: int = 512,
    ) -> None:
        self.spark = spark
        self.depth = depth
        self.width = width
        self.table_dir = os.path.join(base_dir, "cms_counters")
        self.gens = Generations(self.table_dir)

    def _batch_counters(self, batch_df: DataFrame) -> DataFrame:
        from hyppo_worker_spark.functions import text as TX
        from hyppo_worker_spark.operators.sketches import cms_counters

        toks = batch_df.select(F.explode(TX.tokens("text")).alias("token"))
        tc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        return cms_counters(
            tc, "token", "cnt", depth=self.depth, width=self.width
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from hyppo_worker_spark.operators.sketches import merge_counters

        if self.gens.done(batch_id):
            return
        new = self._batch_counters(batch_df)
        if self.gens.exists():
            old = self.gens.read(self.spark)
            merged = merge_counters(old, new)
        else:
            merged = new
        self.gens.commit(merged, batch_id)

    def estimate(self, probes: DataFrame, key_col: str) -> DataFrame:
        """Point-query the maintained sketch (broadcast join + min)."""
        from hyppo_worker_spark.operators.sketches import cms_estimate

        counters = self.gens.read(self.spark)
        return cms_estimate(
            counters, probes, key_col, depth=self.depth, width=self.width
        )


def maintain_cms(
    docs: DataFrame, sink: CmsRollupSink, checkpoint_dir: str
):
    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class KmvRollupSink:
    """foreachBatch callable maintaining per-source KMV sketches
    (`operators/sketches.py`) — the SET-OPERATION summaries (union
    AND intersection estimates) kept continuously fresh. Per batch:
    sketch the batch's keys per source, union with the persisted
    sketches (k smallest of the combined hash sets), rewrite the
    k-row-per-source table.

    KMV union is IDEMPOTENT for replayed identical inputs (the k
    smallest of a set don't change when you union it in twice), but
    the generation commit's ack guard is kept anyway so every
    maintenance sink shares one replay contract.
    """

    def __init__(
        self, spark: SparkSession, base_dir: str, *, k: int = 256
    ) -> None:
        self.spark = spark
        self.k = k
        self.table_dir = os.path.join(base_dir, "kmv_sketches")
        self.gens = Generations(self.table_dir)

    def _batch_sketches(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        from hyppo_worker_spark.operators.sketches import kmv_hash

        hashed = batch_df.select(
            "source", kmv_hash("doc_id").alias("h")
        ).distinct()
        w = W.partitionBy("source").orderBy("h")
        return (
            hashed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.k)
            .select("source", "h")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W

        if self.gens.done(batch_id):
            return
        new = self._batch_sketches(batch_df)
        if self.gens.exists():
            old = self.gens.read(self.spark)
            both = old.unionByName(new).distinct()
        else:
            both = new
        w = W.partitionBy("source").orderBy("h")
        merged = (
            both.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.k)
            .select("source", "h")
        )
        self.gens.commit(merged, batch_id)

    def union_estimate(self, sources: list[str]) -> int:
        """Estimated distinct keys across ``sources`` from the merged
        sketches ((k-1) << 52 div t; exact when the merged sketch is
        smaller than k)."""
        t = self.gens.read(self.spark)
        merged = (
            t.filter(F.col("source").isin(sources))
            .select("h")
            .distinct()
            .orderBy("h")
            .limit(self.k)
        )
        row = merged.agg(
            F.count(F.lit(1)).alias("n_m"), F.max("h").alias("t")
        ).first()
        if row.n_m < self.k:
            return int(row.n_m)
        return ((self.k - 1) << 52) // int(row.t)


def maintain_kmv(docs: DataFrame, sink: KmvRollupSink, checkpoint_dir: str):
    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
