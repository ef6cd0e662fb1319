"""Session helpers: scoped_conf must restore the previous value on
both the normal and the exception path — a leaked conf is the inverse
of the p06 failure class (queries must neither depend on ambient
session configs nor mutate them for later queries)."""

import pytest

from hyppo_worker_spark.session import scoped_conf


def test_scoped_conf_sets_and_restores(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_conf(spark, key, "7"):
        assert spark.conf.get(key) == "7"
    assert spark.conf.get(key) == before


def test_scoped_conf_restores_on_exception(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, key, "9"):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_scoped_conf_restores_unset_key(spark):
    """A key that was never set must end the block UNSET again (not
    pinned to some readback value): conf.get raises for defaultless
    keys, and always re-setting in finally would leak the scoped
    value — ADVICE r7 item."""
    key = "spark.hyppo.test.neverSetKey"
    assert spark.conf.get(key, None) is None
    with scoped_conf(spark, key, "x"):
        assert spark.conf.get(key) == "x"
    assert spark.conf.get(key, None) is None


def test_tracked_persist_release_and_rdd_block_clear(spark):
    """tracked_persist registers for release_persists; clear_cache
    with include_rdd_blocks also drops localCheckpoint pins, which
    catalog.clearCache never touches (VERDICT r7 item 5)."""
    from pyspark.sql import functions as F

    from hyppo_worker_spark.session import (
        clear_cache,
        release_persists,
        tracked_persist,
    )

    def n_cached():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    clear_cache(spark, include_rdd_blocks=True)
    base = n_cached()
    df = spark.range(100).select((F.col("id") * 2).alias("x")).transform(
        tracked_persist
    )
    assert df.count() == 100
    pinned = spark.range(50).localCheckpoint(eager=True)
    assert pinned.count() == 50
    assert n_cached() > base
    assert release_persists() >= 1
    # the localCheckpoint pin survives release_persists + clearCache...
    spark.catalog.clearCache()
    assert n_cached() > base
    # ...and only the boundary-time RDD-block clear drops it
    clear_cache(spark, include_rdd_blocks=True)
    assert n_cached() == 0


def test_persist_scope_owns_its_frames_only(spark):
    """persist_scope releases exactly the frames registered inside the
    block on the same thread: an outer default-registry persist and a
    concurrent thread's persists survive (ADVICE r8: no cross-consumer
    unpersist), and scope exit is automatic even without an explicit
    release_persists call."""
    import threading

    from pyspark.sql import functions as F

    from hyppo_worker_spark.session import (
        clear_cache,
        persist_scope,
        release_persists,
        tracked_persist,
    )

    clear_cache(spark, include_rdd_blocks=True)
    outer = spark.range(10).select(F.col("id").alias("o")).transform(
        tracked_persist
    )
    assert outer.count() == 10

    seen = {}

    def streaming_thread():
        # simulates a foreachBatch body registering on its own thread
        df = spark.range(20).select(F.col("id").alias("t")).transform(
            tracked_persist
        )
        df.count()
        seen["df"] = df

    with persist_scope() as scope:
        inner = spark.range(30).select(F.col("id").alias("i")).transform(
            tracked_persist
        )
        inner.count()
        t = threading.Thread(target=streaming_thread)
        t.start()
        t.join()
        assert scope == [inner]  # the thread's frame landed elsewhere
        assert inner.storageLevel.useMemory
    # scope exit released ONLY inner
    assert not inner.storageLevel.useMemory
    assert outer.storageLevel.useMemory
    assert seen["df"].storageLevel.useMemory
    # the default registry still holds outer + the thread's frame
    assert release_persists() == 2
    assert not outer.storageLevel.useMemory


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_supported_schema_is_a_local_scan(spark):
    from hyppo_worker_spark import session

    before = session.LOCAL_FRAME_FALLBACKS
    df = session.local_frame(
        spark, [(1, "a", 2.5), (2, None, None)], "k long, s string, x double"
    )
    assert "LocalTableScan" in _executed(df)
    assert session.LOCAL_FRAME_FALLBACKS == before


def test_local_frame_timestamp_falls_back_visibly(spark, caplog):
    import datetime as dt
    import logging

    from hyppo_worker_spark import session

    before = session.LOCAL_FRAME_FALLBACKS
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        df = session.local_frame(
            spark, [(1, dt.datetime(2024, 1, 1))], "k long, at timestamp"
        )
    assert df.count() == 1
    assert session.LOCAL_FRAME_FALLBACKS == before + 1
    [warning] = [r for r in caplog.records if r.name == session.__name__]
    assert warning.levelno == logging.WARNING
    assert "at: timestamp" in warning.getMessage()
