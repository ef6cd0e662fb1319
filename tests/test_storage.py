"""Storage layout keys, checksum verification, record counts
(reference analog: ``S3DataFileHandler`` behavior via
``LocalDataFileHandler`` test double)."""

import pytest

from hyppo_worker_spark.model import DataIngestionJob, DataIngestionTask, IngestionSource
from hyppo_worker_spark.storage import ChecksumMismatch, StorageLayout
from tests.fixtures import TEST_RECORD_SCHEMA


def _task(source="My Source"):
    job = DataIngestionJob(source=IngestionSource(name=source))
    return DataIngestionTask(job=job, task_number=3)


def test_layout_keys_match_reference_scheme():
    layout = StorageLayout(bucket="/data", prefix="p")
    t = _task("My Source.v2")
    date = t.job.started_at.strftime("%Y-%m-%d")
    assert layout.raw_key(t, 0) == (
        f"p/My_Source-v2/{date}/job-{t.job.id}/raw/task-3/data-0.raw.gz"
    )
    assert layout.records_key(t, "parquet") == (
        f"p/My_Source-v2/{date}/job-{t.job.id}/records/task-3/data.parquet"
    )
    assert layout.log_key(t.job, "exec-1") == (
        f"p/My_Source-v2/{date}/ingestion-job-{t.job.id}/log/exec-1.out"
    )


def test_raw_round_trip_and_checksum(storage):
    t = _task()
    manifests = storage.upload_raw(t, [b"hello", b"other"])
    assert len(manifests) == 2
    assert all(m.file_size > 0 for m in manifests)
    assert storage.download_raw(manifests[0]) == b"hello"
    assert storage.download_raw(manifests[1]) == b"other"

    # corrupt the file on disk → checksum verification must fail
    path = manifests[0].location.uri()
    with open(path, "ab") as f:
        f.write(b"junk")
    with pytest.raises(ChecksumMismatch):
        storage.download_raw(manifests[0])


def test_records_write_read_count(spark, storage):
    t = _task()
    df = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20), ("c", None, None)], TEST_RECORD_SCHEMA
    )
    manifest = storage.write_records(t, df)
    assert manifest.record_count == 3
    assert manifest.file_size > 0
    back = storage.read_records(manifest)
    assert sorted(r.name for r in back.collect()) == ["a", "b", "c"]
    assert back.schema == TEST_RECORD_SCHEMA or [f.name for f in back.schema.fields] == [
        "name",
        "valueOne",
        "valueTwo",
    ]


def test_records_zone_avro_py_roundtrip(spark, storage):
    """records_fmt='avro-py' persists REAL Avro-with-deflate through
    the pure-Python container: .avro part files on disk, counts and
    checksums intact, typed read-back equal."""
    import glob as g
    import os

    from hyppo_worker_spark.storage import DataFileHandler

    h = DataFileHandler(spark, storage.layout, records_fmt="avro-py")
    t = _task()
    df = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20), ("c", None, None)], TEST_RECORD_SCHEMA
    )
    manifest = h.write_records(t, df)
    assert manifest.record_count == 3
    parts = [
        f
        for f in g.glob(os.path.join(manifest.location.uri(), "*.avro"))
    ]
    assert parts, "no .avro container files written"
    with open(parts[0], "rb") as fh:
        assert fh.read(4) == b"Obj\x01"
    back = h.read_records(manifest)
    assert sorted(r.name for r in back.collect()) == ["a", "b", "c"]


def test_records_checksum_detects_tamper(spark, storage):
    t = _task()
    df = spark.createDataFrame([("a", 1, 10)], TEST_RECORD_SCHEMA)
    manifest = storage.write_records(t, df)
    import glob as g
    import os

    part = next(
        f
        for f in g.glob(os.path.join(manifest.location.uri(), "**"), recursive=True)
        if os.path.isfile(f) and f.endswith((".parquet", ".avro"))
    )
    with open(part, "ab") as f:
        f.write(b"x")
    with pytest.raises(ChecksumMismatch):
        storage.read_records(manifest)


def test_raw_binaryfile_df(spark, storage):
    t = _task()
    manifests = storage.upload_raw(t, [b"payload-a", b"payload-b"])
    df = storage.read_raw_df(manifests)
    rows = df.select("path", "length").collect()
    assert len(rows) == 2
    assert all(r.length > 0 for r in rows)


def test_raw_local_df(spark, storage):
    """``test_raw_binaryfile_df`` on the driver-read path op 4 takes
    below ``LOCAL_READ_MAX_BYTES``: each file checked and held once."""
    t = _task()
    manifests = storage.upload_raw(t, [b"payload-a", b"payload-b"])
    df = storage.read_raw_df(manifests, local=True)
    rows = df.select("path", "length").collect()
    assert len(rows) == 2
    assert all(r.length > 0 for r in rows)
    assert all(r.path.startswith("file:/") for r in rows)
