"""The records zone's two read paths: a jar-free ``.avro`` dataset at
most ``storage.LOCAL_READ_MAX_BYTES`` on disk is read once on the driver
into an Arrow local relation, a larger one is hashed on the driver and
scanned by Spark. Forcing the gate to 0 and to infinity must give the
same rows, the same schema and the same failures."""

from __future__ import annotations

import builtins
import dataclasses
import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from hyppo_worker_spark import storage as S
from hyppo_worker_spark.model import (
    DataIngestionJob,
    DataIngestionTask,
    IngestionSource,
    RemoteProcessedDataFile,
)
from hyppo_worker_spark.sources.avro_container import write_container
from hyppo_worker_spark.storage import ChecksumMismatch, DataFileHandler

GATES = {"driver": float("inf"), "spark": 0}

FLAT = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("score", T.DoubleType(), True),
    T.StructField("at", T.TimestampType(), True),
])
NESTED = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("tags", T.ArrayType(T.StringType(), False), True),
    T.StructField("attrs", T.MapType(T.StringType(), T.LongType(), False), True),
    T.StructField(
        "pos",
        T.StructType([
            T.StructField("x", T.IntegerType(), False),
            T.StructField("y", T.IntegerType(), True),
        ]),
        True,
    ),
])
UTC = dt.timezone.utc


def _task():
    return DataIngestionTask(
        job=DataIngestionJob(source=IngestionSource(name="rr")), task_number=1
    )


@pytest.fixture()
def handler(spark, storage):
    return DataFileHandler(spark, storage.layout, records_fmt="avro-py")


def _flat_rows(n: int = 40) -> list[tuple]:
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    return [
        (
            i,
            None if i % 7 == 0 else f"n{i}",
            None if i % 5 == 0 else i / 4,
            None if i % 3 == 0 else t0 + dt.timedelta(seconds=i, microseconds=i),
        )
        for i in range(n)
    ]


def _micros(v):
    """Datetimes as epoch micros: collect() hands back naive local
    times, the inputs are aware."""
    return round(v.timestamp() * 1e6) if isinstance(v, dt.datetime) else v


def _write(spark, handler, rows, schema, parts: int = 3) -> RemoteProcessedDataFile:
    df = spark.createDataFrame(rows, schema).repartition(parts)
    return handler.write_records(_task(), df)


def _read(handler, manifest, monkeypatch, gate: str):
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES[gate])
    df = handler.read_records(manifest)
    return df.schema, sorted(df.collect(), key=repr)


def _both(handler, manifest, monkeypatch):
    """(schema, rows) through the driver path, asserted equal to the
    Spark path's."""
    local = _read(handler, manifest, monkeypatch, "driver")
    assert _read(handler, manifest, monkeypatch, "spark") == local
    return local


def _parts(manifest) -> list[str]:
    d = manifest.location.uri()
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".avro"))


def test_multi_file_flat_same_on_both_sides(spark, handler, monkeypatch):
    rows = _flat_rows()
    manifest = _write(spark, handler, rows, FLAT)
    assert len(_parts(manifest)) > 1
    schema, got = _both(handler, manifest, monkeypatch)
    assert schema == FLAT
    assert sorted(tuple(map(_micros, r)) for r in got) == sorted(
        tuple(map(_micros, r)) for r in rows
    )
    assert manifest.record_count == len(rows)


def test_empty_dataset_same_on_both_sides(spark, handler, monkeypatch):
    manifest = _write(spark, handler, [], FLAT)
    assert [os.path.basename(p) for p in _parts(manifest)] == ["part-empty.avro"]
    schema, got = _both(handler, manifest, monkeypatch)
    assert (schema, got) == (FLAT, [])


def test_nested_row_path_same_on_both_sides(spark, handler, monkeypatch):
    rows = [
        (1, ["a", "b"], {"k": 1}, (1, None)),
        (2, None, None, None),
        (3, [], {}, (3, 4)),
    ]
    manifest = _write(spark, handler, rows, NESTED, parts=2)
    schema, got = _both(handler, manifest, monkeypatch)
    assert schema == NESTED
    assert [r.id for r in got] == [1, 2, 3]
    assert got[0].tags == ["a", "b"] and got[0].attrs == {"k": 1}
    assert got[2].pos.y == 4


def test_timestamp_millis_same_on_both_sides(spark, handler, monkeypatch):
    declared = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        ],
    }
    st = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ])
    want = dt.datetime(2023, 11, 14, 22, 13, 20, 123000, tzinfo=UTC)
    loc = handler.layout.loc(handler.layout.records_key(_task(), "avro"))
    path = loc.uri()
    os.makedirs(path)
    with open(os.path.join(path, "part-0.avro"), "wb") as fh:
        fh.write(write_container(st, [{"id": 1, "ts": want}], declared_schema=declared))
    size, checksum = S._dir_manifest(path)
    manifest = RemoteProcessedDataFile(
        location=loc, file_size=size, checksum=checksum, record_count=1
    )
    schema, got = _both(handler, manifest, monkeypatch)
    assert schema == st
    assert [_micros(r.ts) for r in got] == [_micros(want)]


def _append_byte(manifest):
    with open(_parts(manifest)[0], "ab") as fh:
        fh.write(b"x")
    return manifest


def _truncate(manifest):
    part = _parts(manifest)[0]
    with open(part, "r+b") as fh:
        fh.truncate(os.path.getsize(part) - 1)
    return manifest


def _manifest_size(manifest):
    return dataclasses.replace(manifest, file_size=manifest.file_size + 1)


@pytest.mark.parametrize("gate", GATES)
@pytest.mark.parametrize("tamper", [_append_byte, _truncate, _manifest_size])
def test_tamper_raises_checksum_mismatch(spark, handler, monkeypatch, gate, tamper):
    manifest = tamper(_write(spark, handler, _flat_rows(), FLAT))
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES[gate])
    with pytest.raises(ChecksumMismatch):
        handler.read_records(manifest)


@pytest.mark.parametrize("gate", GATES)
def test_foreign_schema_part_raises_value_error(spark, handler, monkeypatch, gate):
    """A part file with another schema, listed in a correct manifest,
    fails the read's schema check on either path."""
    manifest = _write(spark, handler, _flat_rows(), FLAT)
    other = T.StructType([T.StructField("id", T.StringType(), False)])
    with open(os.path.join(manifest.location.uri(), "part-zzz.avro"), "wb") as fh:
        fh.write(write_container(other, [{"id": "x"}]))
    size, checksum = S._dir_manifest(manifest.location.uri())
    manifest = dataclasses.replace(manifest, file_size=size, checksum=checksum)
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES[gate])
    # the driver path raises ValueError itself; the Spark path carries
    # the executor's ValueError inside the PythonException it raises
    with pytest.raises(Exception, match="ValueError|schema mismatch") as ei:
        handler.read_records(manifest).collect()
    assert isinstance(ei.value, ValueError) or "ValueError" in str(ei.value)
    assert "schema mismatch" in str(ei.value)


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_below_gate_plans_local_scan(spark, handler, monkeypatch):
    manifest = _write(spark, handler, _flat_rows(), FLAT)
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES["driver"])
    plan = _plan(handler.read_records(manifest))
    assert "LocalTableScan" in plan
    assert "BinaryFile" not in plan and "MapInArrow" not in plan
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES["spark"])
    assert "MapInArrow" in _plan(handler.read_records(manifest))


@pytest.fixture()
def record_opens(monkeypatch):
    """Paths the driver opens for reading under a records zone."""
    opened: list[str] = []
    real = builtins.open

    def counting(file, mode="r", *args, **kwargs):
        if "/records/" in str(file) and "w" not in mode and "a" not in mode:
            opened.append(str(file))
        return real(file, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting)
    return opened


def test_driver_reads_each_record_file_once(spark, handler, monkeypatch, record_opens):
    manifest = _write(spark, handler, _flat_rows(), FLAT)
    assert record_opens == []  # the write read nothing back
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES["driver"])
    handler.read_records(manifest).collect()
    assert sorted(record_opens) == _parts(manifest)


@pytest.mark.parametrize(
    "rows", [_flat_rows(), _flat_rows(1), []], ids=["several", "one", "empty"]
)
def test_write_manifest_matches_dir_manifest(spark, handler, record_opens, rows):
    """The executors' per-file digests make the same manifest as
    hashing the written directory, the header-only empty part
    included, and the driver opens no record file to get it."""
    manifest = _write(spark, handler, rows, FLAT, parts=4)
    assert record_opens == []
    assert (manifest.file_size, manifest.checksum) == S._dir_manifest(
        manifest.location.uri()
    )
    assert manifest.record_count == len(rows)
