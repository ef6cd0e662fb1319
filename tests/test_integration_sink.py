"""Connector write path: staged per-task files become visible only
through the committed manifest; failed jobs leave nothing visible;
streaming epochs are replay-idempotent; read-back verifies checksums."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hyppo_worker_spark.sources.integration_source import (
    read_committed,
    register_integration_source,
)

SCHEMA = "task_id long, name string, score long"


@pytest.fixture(scope="module")
def registered(spark):
    register_integration_source(spark)
    return spark


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("task_id"),
        F.concat(F.lit("row-"), F.col("id")).alias("name"),
        (F.col("id") * 3 % 7).alias("score"),
    )


def test_commit_publishes_manifest_and_files(registered, tmp_path):
    out = str(tmp_path / "sink")
    _df(registered, 0, 20).repartition(4).write.format(
        "hyppo_integration"
    ).option("path", out).mode("append").save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["total_rows"] == 20
    assert len(manifest["files"]) == 4  # one staged file per task
    assert os.listdir(os.path.join(out, "_staging")) == []

    back = read_committed(registered, out, SCHEMA)
    assert back.count() == 20
    assert {r.name for r in back.collect()} == {f"row-{i}" for i in range(20)}


def test_append_merges_manifest(registered, tmp_path):
    out = str(tmp_path / "sink")
    _df(registered, 0, 10).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("append").save()
    _df(registered, 10, 15).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("append").save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["total_rows"] == 15
    assert read_committed(registered, out, SCHEMA).count() == 15


def test_overwrite_replaces_previous_files(registered, tmp_path):
    out = str(tmp_path / "sink")
    _df(registered, 0, 10).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("append").save()
    _df(registered, 50, 53).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("overwrite").save()
    back = read_committed(registered, out, SCHEMA)
    assert sorted(r.task_id for r in back.collect()) == [50, 51, 52]
    # stale data files physically removed
    data_files = [f for f in os.listdir(out) if f.startswith("task-")]
    assert len(data_files) == 1


def test_failed_job_leaves_nothing_visible(registered, tmp_path):
    out = str(tmp_path / "sink")
    bad = _df(registered, 0, 10).withColumn(
        "score", F.expr("CAST(raise_error('boom') AS LONG)")
    )
    with pytest.raises(Exception, match="boom"):
        bad.write.format("hyppo_integration").option("path", out).mode(
            "append"
        ).save()
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    # nothing is VISIBLE (staged leftovers from in-flight tasks are
    # possible and harmless — the manifest gate is the contract)
    assert read_committed(registered, out, SCHEMA).count() == 0
    # the next successful commit reaps any abort-time stragglers
    _df(registered, 0, 3).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("append").save()
    assert os.listdir(os.path.join(out, "_staging")) == []
    assert read_committed(registered, out, SCHEMA).count() == 3


def test_checksum_mismatch_fails_read(registered, tmp_path):
    out = str(tmp_path / "sink")
    _df(registered, 0, 5).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("append").save()
    fname = json.load(open(os.path.join(out, "_MANIFEST.json")))["files"][0][
        "file"
    ]
    with open(os.path.join(out, fname), "a", encoding="utf-8") as fh:
        fh.write('{"task_id": 99, "name": "tampered", "score": 0}\n')
    with pytest.raises(IOError, match="checksum mismatch"):
        read_committed(registered, out, SCHEMA)


def test_streaming_epoch_manifests_are_replay_idempotent(
    registered, tmp_path
):
    out = str(tmp_path / "stream-sink")
    src = str(tmp_path / "src")
    _df(registered, 0, 12).repartition(3).write.mode("overwrite").parquet(src)

    stream = registered.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.format("hyppo_integration")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    manifests = sorted(
        f for f in os.listdir(out) if f.startswith("_MANIFEST-")
    )
    assert len(manifests) == 3  # one epoch per file
    back = read_committed(registered, out, SCHEMA)
    assert back.count() == 12

    # simulate an epoch replay: re-commit epoch 0 with different rows —
    # its manifest must be SUPERSEDED, not appended
    from hyppo_worker_spark.sources.integration_source import (
        IntegrationStreamWriter,
    )
    from pyspark.sql.types import StructType

    w = IntegrationStreamWriter(
        StructType.fromDDL(SCHEMA), {"path": out}
    )
    rows = [(100, "replay-a", 1), (101, "replay-b", 2)]
    msg = w.write(iter(rows))
    w.commit([msg], 0)
    back2 = read_committed(registered, out, SCHEMA)
    names = {r.name for r in back2.collect()}
    assert {"replay-a", "replay-b"} <= names
    # epoch 0's original rows are gone (superseded), other epochs kept
    m0 = json.load(open(os.path.join(out, "_MANIFEST-0.json")))
    assert m0["total_rows"] == 2
    other_rows = sum(
        json.load(open(os.path.join(out, m)))["total_rows"]
        for m in manifests[1:]
    )
    assert back2.count() == other_rows + 2


def test_versioned_manifests_time_travel(registered, tmp_path):
    """Every commit writes an immutable _MANIFEST-v{n}.json snapshot;
    read_committed(version=n) is a time-travel read of exactly that
    snapshot's files; append keeps old snapshots readable."""
    from hyppo_worker_spark.sources.integration_source import list_versions

    out = str(tmp_path / "sink")
    _df(registered, 0, 10).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("append").save()
    _df(registered, 10, 15).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("append").save()

    vs = list_versions(out)
    assert [(v["version"], v["total_rows"]) for v in vs] == [(1, 10), (2, 15)]
    # time travel: v1 sees only the first commit
    assert read_committed(registered, out, SCHEMA, version=1).count() == 10
    assert read_committed(registered, out, SCHEMA, version=2).count() == 15
    # latest view == newest version
    assert read_committed(registered, out, SCHEMA).count() == 15
    with pytest.raises(FileNotFoundError):
        read_committed(registered, out, SCHEMA, version=9)


def test_overwrite_truncates_history(registered, tmp_path):
    """Overwrite reaps files not in the newest version — older
    snapshots may dangle (documented VACUUM-like truncation), but the
    latest view and its snapshot stay consistent."""
    out = str(tmp_path / "sink")
    _df(registered, 0, 10).coalesce(1).write.format("hyppo_integration").option(
        "path", out
    ).mode("append").save()
    _df(registered, 20, 24).coalesce(1).write.format(
        "hyppo_integration"
    ).option("path", out).mode("overwrite").save()
    assert read_committed(registered, out, SCHEMA).count() == 4
    assert read_committed(registered, out, SCHEMA, version=2).count() == 4


def test_read_committed_of_never_created_zone_is_empty(registered, tmp_path):
    """An aborted FIRST write can die before any task creates the sink
    directory; reading that zone is a valid 0-rows state, not a
    FileNotFoundError (flake caught in the r8 full-suite run)."""
    missing = str(tmp_path / "never-created")
    assert read_committed(registered, missing, SCHEMA).count() == 0


def test_manifest_publishes_fsync_before_replace(tmp_path, monkeypatch):
    """Every manifest JSON (version snapshot, latest pointer, streaming
    epoch) is fsynced before the ``os.replace`` that publishes it: an
    un-fsynced rename can surface an EMPTY manifest after a power
    loss, and readers trust the manifest alone."""
    from pyspark.sql.types import LongType, StructField, StructType

    from hyppo_worker_spark.sources.integration_source import (
        IntegrationStreamWriter,
        _publish_manifest,
    )

    synced: set[int] = set()  # inodes fsynced so far
    published: list[tuple[str, bool]] = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        real_fsync(fd)
        synced.add(os.fstat(fd).st_ino)

    def replace(src, dst):
        published.append((os.path.basename(dst), os.stat(src).st_ino in synced))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    out = str(tmp_path / "zone")
    os.makedirs(out)
    _publish_manifest(out, {"files": [], "total_rows": 0})
    schema = StructType([StructField("task_id", LongType())])
    IntegrationStreamWriter(schema, {"path": out}).commit([], 0)

    assert [name for name, _ in published] == [
        "_MANIFEST-v1.json", "_MANIFEST.json", "_MANIFEST-0.json",
    ]
    assert all(was_synced for _, was_synced in published), published
