"""q67 runs its recursive walk with AQE off and the row cap lifted,
both scoped: its Spark-job count stays at its pin, and both confs hold
their prior values after the row returns and after it raises."""

from __future__ import annotations

import pytest

from hyppo_worker_spark.plans.explain import formatted_plan
from hyppo_worker_spark.session import load_tables, persist_scope, scoped_conf

SF_DIR = "/root/testdata/sf0.001"

# Measured with the tests' session (local[4], 4 shuffle partitions) on
# the sf0.001 orders, whose longest chain walks 18 levels: 60 jobs with
# AQE off inside the loop, 84 with it left on.
Q67_JOBS_PIN = 60

AQE = "spark.sql.adaptive.enabled"
ROW_LIMIT = "spark.sql.cteRecursionRowLimit"


def _q67(spark):
    from hyppo_worker_spark.queries import load_all

    return load_all()["q67_recursive_chain_fold"].spark_fn(spark, SF_DIR)


def test_q67_job_count_at_pin(spark):
    load_tables(spark, SF_DIR, ("orders",))  # schema inference is not q67's
    sc = spark.sparkContext
    group = "q67-job-pin"
    sc.setJobGroup(group, group)
    try:
        with persist_scope():
            rows = _q67(spark).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 18
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= Q67_JOBS_PIN


def test_q67_result_is_a_local_relation(spark):
    with persist_scope():
        df = _q67(spark)
        plan = formatted_plan(df)
    assert "LocalTableScan" in plan
    assert "UnionLoop" not in plan


def test_q67_restores_confs_after_return(spark):
    with scoped_conf(spark, ROW_LIMIT, "5000000"):
        before = (spark.conf.get(AQE), spark.conf.get(ROW_LIMIT))
        with persist_scope():
            _q67(spark).collect()
        assert (spark.conf.get(AQE), spark.conf.get(ROW_LIMIT)) == before
    assert before == ("true", "5000000")


def test_q67_restores_confs_after_raise(spark):
    before = (spark.conf.get(AQE), spark.conf.get(ROW_LIMIT))
    with scoped_conf(spark, "spark.sql.cteRecursionLevelLimit", "2"):
        with pytest.raises(Exception, match="RECURSION_LEVEL_LIMIT_EXCEEDED"):
            with persist_scope():
                _q67(spark)
    assert (spark.conf.get(AQE), spark.conf.get(ROW_LIMIT)) == before
