"""Incremental HLL maintenance: after draining events in micro-batches
the per-day estimates must sit within the sketch tolerance of exact
batch distincts, event counts must be exact, and a replayed batch must
not double-count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hyppo_worker_spark.session import load_tables
from hyppo_worker_spark.streaming.pipeline import EVENTS_SCHEMA
from hyppo_worker_spark.streaming.sketch_maintenance import (
    SketchRollupSink,
    maintain_sketches,
)

SF_DIR = "/root/testdata/sf0.001"


def test_incremental_sketches_match_batch(spark, tmp_path):
    src = str(tmp_path / "ev")
    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    ev.repartition(3).write.mode("overwrite").parquet(src)

    sink = SketchRollupSink(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_sketches(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    got = {r.day: (r.est_users, r.n_events) for r in sink.estimates().collect()}

    batch = spark.read.parquet(src).select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "user_id"
    )
    exact = {
        r.day: (r.d, r.n)
        for r in batch.groupBy("day")
        .agg(F.countDistinct("user_id").alias("d"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    exact["TOTAL"] = (
        batch.select("user_id").distinct().count(),
        batch.count(),
    )
    assert set(got) == set(exact)
    for day, (est, n) in got.items():
        d, n_exact = exact[day]
        assert n == n_exact  # counts are exact
        assert abs(est - d) * 20 <= d  # estimate within 5%


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    sink = SketchRollupSink(spark, str(tmp_path / "store"))
    b = spark.createDataFrame(
        [(i, "2024-01-01 10:00:00") for i in range(100)],
        "user_id long, ts_s string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    sink(b, 0)
    sink(b, 0)  # replay
    rows = {r.day: (r.est_users, r.n_events) for r in sink.estimates().collect()}
    est, n = rows["2024-01-01"]
    assert n == 100  # not 200
    assert abs(est - 100) * 20 <= 100
    # a genuinely new batch still merges
    b2 = spark.createDataFrame(
        [(i, "2024-01-01 11:00:00") for i in range(100, 150)],
        "user_id long, ts_s string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    sink(b2, 1)
    est2, n2 = {
        r.day: (r.est_users, r.n_events) for r in sink.estimates().collect()
    }["2024-01-01"]
    assert n2 == 150
    assert abs(est2 - 150) * 20 <= 150
    assert sink.gens.exists()


class _Crash(Exception):
    pass


def _day_batch(spark, day, users):
    return spark.createDataFrame(
        [(f"2024-01-0{day} 00:00:00", u) for u in users],
        "ts string, user_id long",
    )


def _n_events(sink):
    return {r.day: r.n_events for r in sink.estimates().collect()}


def test_sketch_sink_crash_before_mark_replays_without_loss(
    spark, tmp_path, monkeypatch
):
    """A crash inside an UNACKED batch — after the generation write but
    before the pointer replace, or in the pointer's fsync — must replay
    that batch against the pre-batch table on a fresh sink, never drop
    it; the replay of an acked batch is a no-op."""
    import os

    def crash(*a, **kw):
        raise _Crash()

    base = str(tmp_path / "s")
    SketchRollupSink(spark, base)(_day_batch(spark, 1, [1, 2, 3]), 0)

    # crash flavor 1: generation written, pointer never replaced
    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(_Crash):
            SketchRollupSink(spark, base)(_day_batch(spark, 2, [3, 4]), 1)
    sink = SketchRollupSink(spark, base)
    assert _n_events(sink) == {"2024-01-01": 3, "TOTAL": 3}
    sink(_day_batch(spark, 2, [3, 4]), 1)  # the streaming replay
    assert _n_events(sink) == {"2024-01-01": 3, "2024-01-02": 2, "TOTAL": 5}

    # crash flavor 2: pointer tmp written, its fsync fails
    with monkeypatch.context() as m:
        m.setattr(os, "fsync", crash)
        with pytest.raises(_Crash):
            SketchRollupSink(spark, base)(_day_batch(spark, 3, [5]), 2)
    sink = SketchRollupSink(spark, base)
    sink(_day_batch(spark, 3, [5]), 2)
    est = _n_events(sink)
    assert est == {
        "2024-01-01": 3,
        "2024-01-02": 2,
        "2024-01-03": 1,
        "TOTAL": 6,
    }

    # replay of an ACKED batch is still a no-op (counts not re-added)
    seq = sink.gens.pointer()["seq"]
    sink(_day_batch(spark, 3, [5]), 2)
    assert _n_events(sink) == est
    assert sink.gens.pointer()["seq"] == seq


def test_sketch_sink_crash_after_swap_before_mark_no_double_apply(
    spark, tmp_path, monkeypatch
):
    """A crash right AFTER the pointer flip, before the sink returns:
    the flip is the batch's ack, so the streaming replay of that batch
    must be skipped — re-applying it would double-count the additive
    n_events counters."""
    from hyppo_worker_spark import generations

    base = str(tmp_path / "s")
    SketchRollupSink(spark, base)(_day_batch(spark, 1, [1, 2, 3]), 0)
    real = generations.publish_json

    def flip_then_crash(*a, **kw):
        real(*a, **kw)
        raise _Crash()

    with monkeypatch.context() as m:
        m.setattr(generations, "publish_json", flip_then_crash)
        with pytest.raises(_Crash):
            SketchRollupSink(spark, base)(_day_batch(spark, 2, [3, 4]), 1)

    sink = SketchRollupSink(spark, base)
    want = {"2024-01-01": 3, "2024-01-02": 2, "TOTAL": 5}
    assert _n_events(sink) == want
    seq = sink.gens.pointer()["seq"]
    sink(_day_batch(spark, 2, [3, 4]), 1)  # the streaming replay
    assert _n_events(sink) == want  # exactly-once: no double count
    assert sink.gens.pointer()["seq"] == seq


# -- CMS maintenance -------------------------------------------------------

from hyppo_worker_spark.streaming.sketch_maintenance import (  # noqa: E402
    CmsRollupSink,
    maintain_cms,
)


def test_incremental_cms_equals_scratch_build(spark, tmp_path):
    """Counter addition is exact: the maintained table after N
    micro-batches must equal a from-scratch build on the full corpus
    bit-for-bit, and heavy-hitter estimates must be one-sided."""
    from hyppo_worker_spark.functions import text as TX
    from hyppo_worker_spark.operators.sketches import cms_counters

    src = str(tmp_path / "docs")
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    docs.repartition(3).write.mode("overwrite").parquet(src)

    sink = CmsRollupSink(spark, str(tmp_path / "store"), depth=3, width=64)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_cms(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    full = spark.read.parquet(src)
    tc = (
        full.select(F.explode(TX.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    scratch = cms_counters(tc, "token", "cnt", depth=3, width=64)
    got = sorted(map(tuple, sink.gens.read(spark).collect()))
    want = sorted(map(tuple, scratch.collect()))
    assert got == want

    # one-sided estimates for the top tokens
    top = tc.orderBy(F.col("cnt").desc(), "token").limit(10)
    est = sink.estimate(top, "token")
    assert est.filter(F.col("est") < F.col("cnt")).count() == 0


def test_cms_replay_is_noop(spark, tmp_path):
    sink = CmsRollupSink(spark, str(tmp_path / "store"), depth=3, width=64)
    b = spark.createDataFrame(
        [("d1", "alpha beta beta"), ("d2", "alpha gamma")],
        "doc_id string, text string",
    )
    sink(b, 0)
    sink(b, 0)  # replay
    probes = spark.createDataFrame(
        [("alpha",), ("beta",)], "token string"
    ).withColumn("cnt", F.lit(0))
    est = {r.token: r.est for r in sink.estimate(probes, "token").collect()}
    assert est == {"alpha": 2, "beta": 2}  # not doubled


# -- KMV maintenance -------------------------------------------------------

from hyppo_worker_spark.streaming.sketch_maintenance import (  # noqa: E402
    KmvRollupSink,
    maintain_kmv,
)


def test_incremental_kmv_equals_scratch_and_estimates(spark, tmp_path):
    """The maintained per-source sketches after N micro-batches equal
    a from-scratch build (k smallest hashes commute with batching),
    and small-source estimates are exact."""
    from hyppo_worker_spark.operators.sketches import kmv_hash

    src = str(tmp_path / "docs")
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"].select(
        "doc_id", "source", "text"
    )
    docs.repartition(3).write.mode("overwrite").parquet(src)

    sink = KmvRollupSink(spark, str(tmp_path / "store"), k=64)
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_kmv(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    full = spark.read.parquet(src)
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy("h")
    scratch = (
        full.select("source", kmv_hash("doc_id").alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .select("source", "h")
    )
    got = sorted(map(tuple, sink.gens.read(spark).collect()))
    want = sorted(map(tuple, scratch.collect()))
    assert got == want

    # sf0.001 sources hold 25 docs each (< k=64): single-source
    # estimates are the EXACT small-set path
    one = full.select("source").distinct().first().source
    exact = full.filter(F.col("source") == one).select("doc_id").distinct().count()
    assert sink.union_estimate([one]) == exact

    # multi-source union: within KMV tolerance of the true union
    srcs = [r.source for r in full.select("source").distinct().collect()]
    true_union = full.select("doc_id").distinct().count()
    est = sink.union_estimate(srcs)
    # this corpus's 64th-smallest hash is deterministically ~2.7 sigma
    # low (est 674 vs 500); the 50% gate holds for any k >= 64 here
    assert abs(est - true_union) * 2 <= true_union


def test_kmv_replay_is_noop(spark, tmp_path):
    sink = KmvRollupSink(spark, str(tmp_path / "store"), k=8)
    b = spark.createDataFrame(
        [(i, "s1") for i in range(30)], "doc_id long, source string"
    )
    sink(b, 0)
    before = sorted(map(tuple, sink.gens.read(spark).collect()))
    sink(b, 0)  # replay
    after = sorted(map(tuple, sink.gens.read(spark).collect()))
    assert before == after
