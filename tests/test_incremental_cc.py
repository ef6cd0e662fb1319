"""Incremental connected-components maintenance: after EVERY batch
the maintained (node, comp) state must equal a from-scratch CC over
all edges seen so far — including the hard case, a bridge edge
merging two existing clusters into one."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from hyppo_worker_spark.operators.dedup import connected_components
from hyppo_worker_spark.streaming.incremental_cc import IncrementalCCSink


def _full(spark, edges):
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    return {
        (r.node, r.comp) for r in connected_components(df).collect()
    }


def _state(sink):
    return {(r.node, r.comp) for r in sink.state().collect()}


def test_incremental_matches_full_recompute(spark, tmp_path):
    sink = IncrementalCCSink(spark, str(tmp_path / "cc"))
    seen: list[tuple[int, int]] = []
    batches = [
        # two separate clusters + an isolated pair
        [(1, 2), (2, 3), (10, 11), (20, 21)],
        # grow cluster A; new disjoint cluster
        [(3, 4), (30, 31), (31, 32)],
        # BRIDGE: merge cluster A and cluster {10,11} via one edge
        [(4, 10)],
        # merge everything touched by 20 into the 30-cluster
        [(21, 30)],
    ]
    for i, b in enumerate(batches):
        seen.extend(b)
        sink(spark.createDataFrame(b, "a_id long, b_id long"), i)
        assert _state(sink) == _full(spark, seen), f"batch {i}"


def test_incremental_random_splits(spark, tmp_path):
    rng = random.Random(11)
    nodes = list(range(60))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    sink = IncrementalCCSink(spark, str(tmp_path / "cc"))
    seen: list[tuple[int, int]] = []
    i = 0
    bid = 0
    while i < len(edges):
        step = rng.randint(1, 9)
        batch = edges[i : i + step]
        i += step
        seen.extend(batch)
        sink(spark.createDataFrame(batch, "a_id long, b_id long"), bid)
        bid += 1
    assert _state(sink) == _full(spark, seen)


def test_replay_of_marked_batch_is_noop(spark, tmp_path):
    sink = IncrementalCCSink(spark, str(tmp_path / "cc"))
    b0 = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    sink(b0, 0)
    s1 = _state(sink)
    sink(b0, 0)  # replay
    assert _state(sink) == s1


def test_incremental_distributed_fallback_matches(spark, tmp_path):
    """local_solve_max_edges=0 forces every batch over the bound, so
    the distributed star-rounds path runs — results must be identical
    to the default (local union-find) path on the same batches,
    including the bridge-merge case."""
    sink = IncrementalCCSink(
        spark, str(tmp_path / "cc"), local_solve_max_edges=0
    )
    seen: list[tuple[int, int]] = []
    batches = [
        [(1, 2), (2, 3), (10, 11)],
        [(3, 10)],  # bridge
        [(50, 51), (51, 1)],
    ]
    for i, b in enumerate(batches):
        seen.extend(b)
        sink(spark.createDataFrame(b, "a_id long, b_id long"), i)
        assert _state(sink) == _full(spark, seen), f"batch {i}"


def test_local_cc_matches_distributed_operator(spark):
    """The driver-side union-find and the distributed operator agree
    on random graphs (chains, merges, duplicate + reversed edges)."""
    from hyppo_worker_spark.operators.dedup import (
        local_connected_components,
    )

    rng = random.Random(7)
    for trial in range(5):
        edges = [
            (rng.randrange(40), rng.randrange(40)) for _ in range(60)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        got = set(local_connected_components(edges))
        want = _full(spark, edges)
        assert got == want, f"trial {trial}"


def test_bucketed_state_matches_full_recompute(spark, tmp_path):
    """Bucketed mode (n_buckets=4): after every batch the union of
    bucket partitions equals a from-scratch CC — including the bridge
    case whose merge relabels rows in OTHER buckets than the new
    edge's endpoints."""
    sink = IncrementalCCSink(spark, str(tmp_path / "cc"), n_buckets=4)
    seen: list[tuple[int, int]] = []
    batches = [
        [(1, 2), (2, 3), (10, 11), (20, 21)],
        [(3, 4), (30, 31), (31, 32)],
        [(4, 10)],  # bridge
        [(21, 30)],
    ]
    for i, b in enumerate(batches):
        seen.extend(b)
        sink(spark.createDataFrame(b, "a_id long, b_id long"), i)
        got = {
            (r.node, r.comp)
            for r in sink.state().select("node", "comp").collect()
        }
        assert got == _full(spark, seen), f"batch {i}"
        # bucket column is consistent with the hash layout
        from pyspark.sql import functions as F

        bad = (
            sink.state()
            .filter(
                F.col("bucket")
                != F.pmod(F.xxhash64("node"), F.lit(4)).cast("int")
            )
            .count()
        )
        assert bad == 0


def test_bucketed_touches_only_needed_buckets(spark, tmp_path):
    """A batch whose endpoints all live in already-known components
    must leave untouched buckets' files byte-identical (no rewrite)."""
    import glob as g
    import os

    sink = IncrementalCCSink(spark, str(tmp_path / "cc"), n_buckets=8)
    sink(spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "a_id long, b_id long"), 0)
    def snapshot():
        # the files of the generations the table references now
        out = {}
        for gen in sink.gens.paths():
            for f in g.glob(os.path.join(gen, "*.parquet")):
                out[f] = os.path.getmtime(f)
        return out

    before = snapshot()
    # merge two known comps: touches only the buckets of their members
    sink(spark.createDataFrame([(0, 2)], "a_id long, b_id long"), 1)
    after = snapshot()
    untouched_same = [
        f for f in before if f in after and before[f] == after[f]
    ]
    assert untouched_same, "every bucket was rewritten — no pruning"
    # and the contents are still right
    got = {
        (r.node, r.comp)
        for r in sink.state().select("node", "comp").collect()
    }
    want = _full(
        spark,
        [(i, i + 1) for i in range(0, 40, 2)] + [(0, 2)],
    )
    assert got == want


def test_auto_layout_both_sides_of_crossover(spark, tmp_path):
    """n_buckets="auto" (VERDICT r8 item 6): below the byte threshold
    the sink stays whole-table; the first batch that finds the state
    at/over it migrates to bucket=<i>/ dirs via one commit; later
    batches prune. Content equals full recompute throughout."""
    from hyppo_worker_spark.streaming.incremental_cc import AUTO_N_BUCKETS

    # side 1: default threshold (512 MB) — tiny state stays whole
    whole = IncrementalCCSink(spark, str(tmp_path / "a"), n_buckets="auto")
    whole(spark.createDataFrame([(1, 2)], "a_id long, b_id long"), 0)
    whole(spark.createDataFrame([(2, 3)], "a_id long, b_id long"), 1)
    assert not whole.gens.is_split(), (
        "tiny state must keep the whole-table layout"
    )
    assert _state(whole) == _full(spark, [(1, 2), (2, 3)])

    # side 2: 1-byte threshold — batch 1 finds the committed state
    # over it and must migrate, batch 2 runs bucketed
    sink = IncrementalCCSink(
        spark, str(tmp_path / "b"), n_buckets="auto", auto_bucket_min_bytes=1
    )
    seen: list[tuple[int, int]] = []
    batches = [
        [(1, 2), (2, 3), (10, 11), (20, 21)],  # creates: whole (no table yet)
        [(3, 4), (30, 31)],                    # migrates
        [(4, 10)],                             # bucketed bridge merge
    ]
    for i, b in enumerate(batches):
        seen.extend(b)
        sink(spark.createDataFrame(b, "a_id long, b_id long"), i)
        got = {
            (r.node, r.comp)
            for r in sink.state().select("node", "comp").collect()
        }
        assert got == _full(spark, seen), f"batch {i}"
        assert sink.gens.is_split() == (i >= 1), f"batch {i}: wrong layout"
    assert sink.n_buckets == AUTO_N_BUCKETS

    # restart (fresh sink object) lands on the bucketed layout and a
    # marked replay is a no-op
    sink2 = IncrementalCCSink(
        spark, str(tmp_path / "b"), n_buckets="auto", auto_bucket_min_bytes=1
    )
    before = {(r.node, r.comp) for r in
              sink2.state().select("node", "comp").collect()}
    sink2(spark.createDataFrame([(4, 10)], "a_id long, b_id long"), 2)
    after = {(r.node, r.comp) for r in
             sink2.state().select("node", "comp").collect()}
    assert before == after
