"""``profile`` leaves the caller's job group and tags as they were,
counts the jobs of a streaming query started inside it, and raises
rather than under-report. Its figures on a real row are checked in
``test_q67_recursion.py``."""

from __future__ import annotations

import pytest

from hyppo_worker_spark.profile import _SUMS, layers, profile

_PROPS = tuple(f"spark.{k}" for k in (
    "jobGroup.id", "job.description", "job.interruptOnCancel", "job.tags"))


def _attempt(status):
    return {**{f: 100 for f, _ in _SUMS.values()}, "status": status,
            "numCompleteTasks": 4, "numFailedTasks": 0, "numKilledTasks": 0}


def _layers(stages, completion=1_500, skipped=1):
    """Job 0 (1.0-1.5 s of a 0.9-2.0 s run) lists stages 1 and 2 and
    skipped ``skipped`` of them; the store holds ``stages``."""
    job = {"jobId": 0, "name": "collect at x.py:1", "stageIds": [1, 2],
           "numSkippedStages": skipped, "submissionTime": 1_000,
           "completionTime": completion}
    return layers([job], lambda sid: stages.get(sid, []), 0.9, 2.0)


@pytest.mark.parametrize("stages", [
    {1: [_attempt("SKIPPED")], 2: [_attempt("COMPLETE")]},
    {2: [_attempt("COMPLETE")]},  # the skipped stage was evicted
])
def test_layers_count_the_stages_that_ran(stages):
    prof = _layers(stages)
    assert (prof["jobs"], prof["stages"], prof["tasks"]) == (1, 1, 4)
    assert (prof["wall_s"], prof["job_union_s"], prof["driver_gap_s"]) == (1.1, 0.5, 0.6)
    assert (prof["executor_run_s"], prof["input_bytes"]) == (0.1, 100)
    assert prof["job_sites"] == [["collect at x.py:1", 0.5]]


def test_layers_raise_rather_than_under_report():
    with pytest.raises(RuntimeError, match="a stage job 0 ran is no longer"):
        _layers({1: [_attempt("COMPLETE")]}, skipped=0)
    with pytest.raises(RuntimeError, match=r"jobs \[0\] have not finished"):
        _layers({}, completion=None)


def test_profile_leaves_the_callers_group_and_tags(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's work", interruptOnCancel=True)
    sc.addJobTag("caller-tag")
    try:
        before = [sc.getLocalProperty(k) for k in _PROPS]
        assert profile(spark, lambda: spark.range(10).count())[0] == 10
        assert [sc.getLocalProperty(k) for k in _PROPS] == before
        with pytest.raises(ZeroDivisionError):
            profile(spark, lambda: 1 / 0)
        assert [sc.getLocalProperty(k) for k in _PROPS] == before
    finally:
        sc.clearJobTags()
        for k in _PROPS[:3]:
            sc.setLocalProperty(k, None)
    assert before == ["caller", "the caller's work", "true", "caller-tag"]


def test_profile_counts_a_streaming_querys_jobs(spark, tmp_path):
    # the query's micro-batches run under its own run-id job group
    def run():
        q = (
            spark.readStream.format("rate").option("rowsPerSecond", 5).load()
            .writeStream.foreachBatch(lambda df, _: df.count())
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck")).start()
        )
        q.awaitTermination()

    assert profile(spark, run)[1]["jobs"] >= 1
