"""Streaming SCD2 dimension maintenance: a CDC update stream applied
to a type-2 history continuously — the streaming twin of the batch
q51/q52 pair, built on `operators/merge.py:scd2_apply` through the
same foreachBatch + generation-commit discipline as the sketch
maintenance sinks.

Per micro-batch:

1. compact the batch to ONE update per key — last writer by the
   stream's update timestamp, ties broken by a stable row hash (the
   `merge_upsert` contract): within a micro-batch, intermediate
   versions are collapsed, which is standard CDC-compaction semantics
   (the history records STATE AT BATCH BOUNDARIES, not every
   intra-batch flicker — document this to consumers);
2. the batch's effective timestamp is the max update ts in the batch
   (one scalar; monotone across batches when the source's watermark
   is, which the caller should guarantee — out-of-order BATCHES would
   write history out of order);
3. `scd2_apply` against the current table: closed history is never
   rescanned for matching (the operator joins only the open slice),
   so per-batch cost is O(open dimension + batch), independent of
   history depth;
4. commit the new table as the next generation (`generations.py`):
   the pointer flip that publishes it also acks the batch, so a crash
   anywhere in the batch replays it against the PRE-batch table and
   cannot drop data, and a replayed ACKED batch is skipped —
   scd2_apply is NOT idempotent (a replayed changed row would
   close-and-reopen a version per replay).

At 100 TB the rewrite targets the affected key-bucket partitions of
the dimension, exactly as `operators/merge.py`'s module doc lays out.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyppo_worker_spark.generations import Generations

OPEN_TS = "9999-12-31 00:00:00"


class Scd2DimensionSink:
    """foreachBatch callable maintaining a type-2 dimension table."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        key: str,
        compare_cols: list[str],
        ts_col: str = "update_ts",
    ) -> None:
        self.spark = spark
        self.key = key
        self.compare_cols = list(compare_cols)
        self.ts_col = ts_col
        self.table_dir = os.path.join(base_dir, "scd2_dim")
        self.gens = Generations(self.table_dir)

    def _compact(self, batch_df: DataFrame) -> DataFrame:
        from hyppo_worker_spark.operators.merge import merge_upsert

        empty = batch_df.limit(0)
        return merge_upsert(empty, batch_df, self.key, order_col=self.ts_col)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from hyppo_worker_spark.operators.merge import scd2_apply

        if self.gens.done(batch_id):
            return
        if batch_df.isEmpty():
            self.gens.ack(batch_id)
            return
        new_ts = (
            batch_df.agg(F.max(self.ts_col).alias("t")).first().t
        )
        new_ts = str(new_ts)
        updates = self._compact(batch_df).drop(self.ts_col)
        if self.gens.exists():
            current = self.gens.read(self.spark)
            dim = scd2_apply(
                current,
                updates,
                self.key,
                self.compare_cols,
                version_ts=OPEN_TS,
                new_ts=new_ts,
            )
        else:
            dim = updates.withColumn("valid_from", F.lit(new_ts)).withColumn(
                "valid_to", F.lit(OPEN_TS)
            )
        self.gens.commit(dim, batch_id)

    # -- query side ---------------------------------------------------------

    def history(self) -> DataFrame:
        return self.gens.read(self.spark)

    def open_dim(self) -> DataFrame:
        return self.history().filter(F.col("valid_to") == OPEN_TS)


def maintain_scd2(
    updates: DataFrame, sink: Scd2DimensionSink, checkpoint_dir: str
):
    return (
        updates.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
