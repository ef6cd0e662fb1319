"""Incremental connected-components maintenance: dedup cluster ids
kept continuously fresh as near-dup EDGE batches stream in — the
cluster-id companion to `streaming/ingest_dedup.py`'s admission path
(admission says "this doc has a near-dup"; this sink says "...and
here is its cluster", without ever re-running CC over the full
accumulated edge set).

Per micro-batch of new (a_id, b_id) pairs (foreachBatch):

1. **scope**: a new edge can only change components it TOUCHES —
   find the component ids of the batch's endpoints in the current
   (node, comp) state (one keyed join against the state table);
2. **subgraph**: pull the members of exactly those components and
   rebuild edges for them from the state itself (``node — comp``
   membership edges reproduce each affected component's
   connectivity: every member links to the canonical node, which is
   itself a member — a star that CC re-collapses); union the new
   edges;
3. **recompute locally**: run the batch large-star/small-star CC
   (`operators/dedup.py:connected_components`, O(log n) rounds) on
   that subgraph only — cost scales with the AFFECTED components +
   batch, not the corpus;
4. **merge + commit**: untouched state rows pass through; the
   recomputed rows replace the affected ones; the result is the next
   generation (`generations.py`), whose pointer flip also acks the
   batch — CC merge is not idempotent, so a replay must see either
   the whole batch applied and acked or none of it.

The test pins the invariant that matters: after every batch, the
maintained state EQUALS a from-scratch CC over all edges seen so far,
across random batch splits (merging two existing clusters through a
new bridge edge, growing one, and brand-new nodes all covered).

At 100 TB the state table is node-count sized and key-partitioned;
step 1/2 joins are comp-keyed and touch only affected partitions.
"""

from __future__ import annotations

import os

from hyppo_worker_spark.session import local_frame
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyppo_worker_spark.generations import Generations

# Auto-layout thresholds (VERDICT r8 item 6), from the measured
# crossover (tools/crossover_bucketed_commit.py, NOTES_r8): per-batch
# steady-state commit walls for a 2-of-64-buckets-touched batch —
#
#   state ~140 MB (2M rows):  whole 0.5-0.6s, bucketed 0.6s  (wash)
#   state ~1.4 GB (20M rows): whole 2.3-23s growing under cache
#                             pressure, bucketed 0.7-1.1s FLAT
#
# Whole-table cost scales with STATE (full rewrite per batch);
# bucketed scales with touched buckets + batch, at a fixed overhead
# (two bounded bucket-list collects + partitioned write) that only
# pays for itself once the state dwarfs a batch. 512 MB sits between
# the measured wash point and the measured 3-4x win; below it (all
# test/sf0.1 shapes, e.g. p08's 36k-row state where bucketing LOSES
# 8.8s vs 4.5s because every batch touches all buckets) auto stays
# whole-table. Migration is one-way (hysteresis): state tables grow
# in maintenance workloads, and flip-flopping layouts would pay the
# full-rewrite migration repeatedly.
AUTO_N_BUCKETS = 64
AUTO_BUCKET_MIN_BYTES = 512 * 1024 * 1024


def _dir_bytes(roots: list[str]) -> int:
    return sum(
        os.path.getsize(os.path.join(dirpath, name))
        for root in roots
        for dirpath, _dirs, files in os.walk(root)
        for name in files
    )


class IncrementalCCSink:
    """foreachBatch callable maintaining a (node, comp) state table.

    ``local_solve_max_edges`` bounds a size-adaptive fast path: when
    the touched subgraph (new edges + affected-component membership
    stars) fits under the bound, the CC recompute runs driver-side
    with union-find instead of the distributed star-rounds operator.
    Itemizing p08's cost at sf0.1 (phase timers; jobs by call site: ``profile.py``) showed the
    distributed recompute was 10.6s of the 12.8s sink total — ~8
    star rounds x per-job fixed overhead over a few thousand edges;
    the data volume is irrelevant at that size. The pull is bounded
    (``limit(max+1)`` — 200k edges ≈ 3 MB driver-side) and the
    distributed path remains for anything larger (e.g. the first
    batch of a 100 TB ingest), exactly the broadcast-join shape:
    size-adaptive physical strategy under one logical contract.

    ``n_buckets`` selects the table layout:

    - ``None`` — one whole generation (every batch rewrites the full
      state);
    - an int — one generation per hash bucket (only buckets holding a
      recomputed node are rewritten), layout fixed at construction;
    - ``"auto"`` — size-adaptive (the layout analog of the
      local-solve bound): start whole, and MIGRATE to
      ``AUTO_N_BUCKETS`` hash buckets at the first batch that finds
      the committed state at or above ``auto_bucket_min_bytes``
      (default ``AUTO_BUCKET_MIN_BYTES`` — see the measured-crossover
      note above). The migration is an ordinary commit that writes
      the full merged state once, partitioned by bucket, and
      references every bucket (same cost as the whole-table commit it
      replaces); every later batch prunes to touched buckets. The
      layout is read from the table's pointer, so restarts and
      crashed batches land on the committed layout.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        local_solve_max_edges: int = 200_000,
        n_buckets: int | str | None = None,
        auto_bucket_min_bytes: int = AUTO_BUCKET_MIN_BYTES,
    ) -> None:
        self.spark = spark
        self.table_dir = os.path.join(base_dir, "cc_state")
        self.gens = Generations(self.table_dir)
        self.local_solve_max_edges = local_solve_max_edges
        self.auto = n_buckets == "auto"
        self.auto_bucket_min_bytes = auto_bucket_min_bytes
        self.n_buckets = None if self.auto else n_buckets

    def _resolve_auto(self) -> bool:
        """Pick this batch's layout from the committed table; returns
        True when THIS batch must migrate whole → bucketed."""
        bucketed = self.gens.is_split()
        migrate = (
            not bucketed
            and self.gens.exists()
            and _dir_bytes(self.gens.paths()) >= self.auto_bucket_min_bytes
        )
        self.n_buckets = AUTO_N_BUCKETS if bucketed or migrate else None
        return migrate

    def state(self) -> DataFrame:
        return self.gens.read(self.spark)

    def _bucket_of(self, col: str):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_buckets)).cast(
            "int"
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from hyppo_worker_spark.operators.dedup import connected_components

        if self.gens.done(batch_id):
            return
        migrate = self.auto and self._resolve_auto()
        bucketed_state = self.n_buckets is not None and not migrate
        new_edges = (
            batch_df.select(
                F.col("a_id").cast("long"), F.col("b_id").cast("long")
            )
            .filter(F.col("a_id") != F.col("b_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if new_edges.isEmpty():
            self.gens.ack(batch_id)
            return

        if self.gens.exists():
            state = self.state()
            endpoints = (
                new_edges.select(F.col("a_id").alias("node"))
                .unionByName(new_edges.select(F.col("b_id").alias("node")))
                .distinct()
            )
            lookup = state
            if bucketed_state:
                # endpoint lookup prunes to the endpoints' own buckets
                # (<= n_buckets small ints -- bounded driver pull)
                ep_buckets = [
                    r[0]
                    for r in endpoints.select(
                        self._bucket_of("node").alias("b")
                    )
                    .distinct()
                    .collect()
                ]
                lookup = state.filter(F.col("bucket").isin(ep_buckets))
            touched = (
                lookup.join(endpoints, "node")
                .select("comp")
                .distinct()
            )
            # members of touched comps: full scan by comp (a comp's
            # members span buckets), column-pruned to (node, comp)
            affected = state.select("node", "comp").join(touched, "comp")
            # membership edges reproduce affected connectivity (star
            # on the canonical node, itself a member)
            member_edges = affected.select(
                F.col("node").alias("a_id"), F.col("comp").alias("b_id")
            ).filter(F.col("a_id") != F.col("b_id"))
            sub_edges = new_edges.unionByName(member_edges)
        else:
            state = None
            touched = None
            sub_edges = new_edges

        # Size-adaptive recompute: one bounded job pulls up to max+1
        # edges; getting max+1 back means "too big -- go distributed".
        cap = self.local_solve_max_edges
        pulled = sub_edges.limit(cap + 1).collect()
        if len(pulled) <= cap:
            from hyppo_worker_spark.operators.dedup import (
                local_connected_components,
            )

            labeled = local_connected_components(
                [(r["a_id"], r["b_id"]) for r in pulled]
            )
            recomputed = local_frame(
                self.spark,
                labeled, "node long, comp long"
            )
        else:
            recomputed = connected_components(sub_edges)

        if self.n_buckets is None or migrate:
            untouched = (
                None
                if touched is None
                else state.select("node", "comp").join(
                    touched, "comp", "left_anti"
                )
            )
            merged = (
                recomputed
                if untouched is None
                else untouched.unionByName(recomputed)
            )
            if migrate:
                # one-time layout migration: the full merged state
                # lands bucket-partitioned and replaces the whole
                # generation (same write volume as a whole-table
                # commit); later batches prune
                merged = merged.withColumn("bucket", self._bucket_of("node"))
                self.gens.commit(merged, batch_id, ["bucket"], split=True)
            else:
                self.gens.commit(merged, batch_id)
            return

        # bucketed: rewrite ONLY the buckets holding a recomputed node
        recomputed = recomputed.withColumn(
            "bucket", self._bucket_of("node")
        ).localCheckpoint(eager=True)
        if touched is None:
            self.gens.commit(recomputed, batch_id, ["bucket"], split=True)
            return
        touched_buckets = [
            r[0] for r in recomputed.select("bucket").distinct().collect()
        ]
        untouched_in_touched = (
            self.state()
            .filter(F.col("bucket").isin(touched_buckets))
            .join(touched, "comp", "left_anti")
            .select("node", "comp", "bucket")
        )
        merged = untouched_in_touched.unionByName(recomputed)
        self.gens.commit(merged, batch_id, ["bucket"], split=True)


def maintain_cc(edges: DataFrame, sink: IncrementalCCSink, checkpoint_dir: str):
    return (
        edges.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
