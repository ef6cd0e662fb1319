"""Op 4's two paths: raw files of at most ``storage.LOCAL_READ_MAX_BYTES``
in all are read once on the driver into an Arrow local relation and the
records are encoded on the driver; larger ones are hashed on the
driver, scanned by Spark (``binaryFile``) and written by the executors.
Forcing the gate to 0 and to infinity must give the same raw frame, the
same part file bytes, the same manifest and the same failures."""

from __future__ import annotations

import builtins
import datetime as dt
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyppo_worker_spark import storage as S
from hyppo_worker_spark.model import (
    DataIngestionJob,
    DataIngestionTask,
    IngestionSource,
    ProcessRawDataRequest,
)
from hyppo_worker_spark.operations import op_process_raw_data
from hyppo_worker_spark.registry import IntegrationRegistry, RawDataIntegration
from hyppo_worker_spark.sources import avro_container as AC
from hyppo_worker_spark.storage import ChecksumMismatch, DataFileHandler

GATES = {"driver": float("inf"), "spark": 0}

FLAT = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("key", T.StringType()),
    T.StructField("qty", T.LongType()),
    T.StructField("amount", T.DoubleType()),
])
TIMES = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("day", T.DateType()),
    T.StructField("at", T.TimestampType()),
])
NESTED = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
    T.StructField(
        "pos",
        T.StructType([
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.IntegerType()),
        ]),
    ),
])


def _record(schema: T.StructType, i: int) -> dict:
    if schema is FLAT:
        return {
            "id": i,
            "key": f"k{i % 17}",
            "qty": None if i % 7 == 0 else i % 100,
            "amount": i / 8,
        }
    if schema is TIMES:
        return {
            "id": i,
            "day": None if i % 5 == 0 else f"2024-03-{i % 28 + 1:02d}",
            "at": f"2024-03-01T12:{i % 60:02d}:{i % 60:02d}.{i % 1000:03d}Z",
        }
    return {
        "id": i,
        "tags": None if i % 4 == 0 else [f"t{i}", f"u{i % 3}"],
        "attrs": {"a": i, "b": None} if i % 3 else None,
        "pos": None if i % 6 == 0 else {"x": i, "y": None if i % 2 else -i},
    }


def _payloads(schema: T.StructType, files: int, n: int = 300) -> list[bytes]:
    return [
        "".join(
            json.dumps(_record(schema, f * n + i)) + "\n" for i in range(n)
        ).encode()
        for f in range(files)
    ]


class JsonLines(RawDataIntegration):
    """Gunzips each raw file in a Python UDF and parses its JSON lines
    under ``schema``; ``keep`` filters the parsed records."""

    source_name = "raw read"
    version = 1

    def __init__(self, schema: T.StructType, keep=None):
        self.schema = schema
        self.keep = keep

    def record_schema(self) -> T.StructType:
        return self.schema

    def create_tasks(self, job):
        return [{}]

    def fetch_raw(self, task) -> list[bytes]:
        return []

    def process_raw(self, spark, task, raw_df):
        @F.udf(T.ArrayType(T.StringType()))
        def lines(blob):
            return gzip.decompress(bytes(blob)).decode().splitlines()

        text = raw_df.select(F.explode(lines("content")).alias("line"))
        out = text.select(F.from_json("line", self.schema).alias("r")).select("r.*")
        return out if self.keep is None else out.filter(self.keep)

    def persist(self, spark, task, records) -> None:
        pass


def _task():
    return DataIngestionTask(
        job=DataIngestionJob(source=IngestionSource(name=JsonLines.source_name)),
        task_number=1,
    )


@pytest.fixture()
def handler(spark, storage):
    return DataFileHandler(spark, storage.layout, records_fmt="avro-py")


def _op4(spark, handler, integration, task, manifests):
    registry = IntegrationRegistry()
    registry.register(integration)
    item = ProcessRawDataRequest(
        integration=integration.details(), task=task, files=tuple(manifests)
    )
    return op_process_raw_data(spark, registry, handler, item).data


def _parts(manifest) -> list[str]:
    d = manifest.location.uri()
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".avro"))


def _run(spark, handler, monkeypatch, integration, task, manifests, gate):
    """Op 4 under ``gate``: (manifest, sorted part file bytes, sorted
    decoded rows)."""
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES[gate])
    manifest = _op4(spark, handler, integration, task, manifests)
    blobs = []
    for p in _parts(manifest):
        with open(p, "rb") as fh:
            blobs.append(fh.read())
    rows = [r for b in blobs for r in AC.read_container(b)[2]]
    return manifest, sorted(blobs), sorted(rows, key=repr)


@pytest.mark.parametrize("files", [1, 3])
@pytest.mark.parametrize(
    "schema", [FLAT, TIMES, NESTED], ids=["flat", "times", "nested"]
)
def test_op4_same_parts_and_manifest_on_both_sides(
    spark, handler, monkeypatch, schema, files
):
    task = _task()
    manifests = handler.upload_raw(task, _payloads(schema, files))
    integration = JsonLines(schema)
    m_spark, parts_spark, rows_spark = _run(
        spark, handler, monkeypatch, integration, task, manifests, "spark"
    )
    m_local, parts_local, rows_local = _run(
        spark, handler, monkeypatch, integration, task, manifests, "driver"
    )
    assert m_local == m_spark
    assert m_local.record_count == 300 * files == len(rows_local)
    assert len(parts_local) == files  # one part per raw file's partition
    assert parts_local == parts_spark
    assert rows_local == rows_spark
    assert (m_local.file_size, m_local.checksum) == S._dir_manifest(
        m_local.location.uri()
    )


def test_op4_decodes_what_was_parsed(spark, handler, monkeypatch):
    """The driver path's records are the connector's records: dates,
    microsecond timestamps and nulls included."""
    task = _task()
    manifests = handler.upload_raw(task, _payloads(TIMES, 1, n=40))
    _, _, rows = _run(
        spark, handler, monkeypatch, JsonLines(TIMES), task, manifests, "driver"
    )
    utc = dt.timezone.utc
    got = {r["id"]: r for r in rows}
    assert got[0]["day"] is None
    assert got[7]["day"] == dt.date(2024, 3, 8)
    assert got[7]["at"] == dt.datetime(2024, 3, 1, 12, 7, 7, 7000, tzinfo=utc)


@pytest.mark.parametrize("files", [1, 3])
def test_op4_empty_output_on_both_sides(spark, handler, monkeypatch, files):
    task = _task()
    manifests = handler.upload_raw(task, _payloads(FLAT, files))
    integration = JsonLines(FLAT, keep=F.col("id") < 0)
    got = {
        gate: _run(spark, handler, monkeypatch, integration, task, manifests, gate)
        for gate in GATES
    }
    assert got["driver"] == got["spark"]
    manifest, parts, rows = got["driver"]
    assert [os.path.basename(p) for p in _parts(manifest)] == ["part-empty.avro"]
    assert manifest.record_count == 0 and rows == []


def test_local_raw_frame_equals_binaryfile(spark, handler):
    task = _task()
    manifests = handler.upload_raw(task, [b"a" * 10, b"", b"xyz" * 1000])
    local = handler.read_raw_df(manifests, local=True)
    scanned = handler.read_raw_df(manifests)
    assert local.schema == scanned.schema == S.RAW_SCHEMA
    assert sorted(local.collect()) == sorted(scanned.collect())


def _append_byte(path: str) -> None:
    with open(path, "ab") as fh:
        fh.write(b"x")


def _truncate(path: str) -> None:
    with open(path, "r+b") as fh:
        fh.truncate(os.path.getsize(path) - 1)


@pytest.mark.parametrize("gate", GATES)
@pytest.mark.parametrize("tamper", [_append_byte, _truncate])
def test_op4_tampered_raw_raises_checksum_mismatch(
    spark, handler, monkeypatch, gate, tamper
):
    task = _task()
    manifests = handler.upload_raw(task, _payloads(FLAT, 3))
    tamper(manifests[1].location.uri())
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES[gate])
    with pytest.raises(ChecksumMismatch):
        _op4(spark, handler, JsonLines(FLAT), task, manifests)


@pytest.fixture()
def plans(spark, monkeypatch):
    """Executed plans of the frames op 4 collects with ``toArrow`` and
    of those it writes with ``mapInArrow``."""
    seen: dict[str, list] = {"toArrow": [], "mapInArrow": []}
    cls = type(spark.range(1))
    to_arrow, map_in_arrow = cls.toArrow, cls.mapInArrow

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def traced_to_arrow(self):
        out = to_arrow(self)
        seen["toArrow"].append(plan(self))
        return out

    def traced_map_in_arrow(self, *args, **kwargs):
        out = map_in_arrow(self, *args, **kwargs)
        seen["mapInArrow"].append(out)
        return out

    monkeypatch.setattr(cls, "toArrow", traced_to_arrow)
    monkeypatch.setattr(cls, "mapInArrow", traced_map_in_arrow)
    yield seen
    seen["mapInArrow"] = [plan(df) for df in seen["mapInArrow"]]


def test_below_gate_plan_has_no_scan_and_no_second_worker(
    spark, handler, monkeypatch, plans
):
    task = _task()
    manifests = handler.upload_raw(task, _payloads(FLAT, 3))
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES["driver"])
    _op4(spark, handler, JsonLines(FLAT), task, manifests)
    assert plans["mapInArrow"] == []
    [plan] = plans["toArrow"]
    assert "LocalTableScan" in plan and "BatchEvalPython" in plan
    assert "binaryfile" not in plan.lower() and "MapInArrow" not in plan


def test_above_gate_plan_scans_and_writes_on_executors(
    spark, handler, monkeypatch, plans
):
    task = _task()
    manifests = handler.upload_raw(task, _payloads(FLAT, 3))
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES["spark"])
    _op4(spark, handler, JsonLines(FLAT), task, manifests)
    assert plans["toArrow"] == []
    [df] = plans["mapInArrow"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "binaryfile" in plan.lower() and "MapInArrow" in plan
    assert "LocalTableScan" not in plan


@pytest.fixture()
def raw_opens(monkeypatch):
    """Paths the driver opens for reading under a raw zone."""
    opened: list[str] = []
    real = builtins.open

    def counting(file, mode="r", *args, **kwargs):
        if "/raw/" in str(file) and "w" not in mode and "a" not in mode:
            opened.append(str(file))
        return real(file, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting)
    return opened


@pytest.mark.parametrize("gate", GATES)
def test_driver_opens_each_raw_file_once(
    spark, handler, monkeypatch, raw_opens, gate
):
    task = _task()
    manifests = handler.upload_raw(task, _payloads(FLAT, 3))
    assert raw_opens == []
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", GATES[gate])
    _op4(spark, handler, JsonLines(FLAT), task, manifests)
    assert sorted(raw_opens) == sorted(m.location.uri() for m in manifests)


def test_gate_sums_manifest_sizes(spark, handler, monkeypatch, plans):
    """The gate compares the task's total raw bytes, not each file's."""
    task = _task()
    manifests = handler.upload_raw(task, _payloads(FLAT, 3))
    biggest = max(m.file_size for m in manifests)
    monkeypatch.setattr(S, "LOCAL_READ_MAX_BYTES", biggest)
    _op4(spark, handler, JsonLines(FLAT), task, manifests)
    assert plans["toArrow"] == [] and len(plans["mapInArrow"]) == 1
