"""timestamp-millis interop with Apache Avro's own Java library (the
jar Spark ships, reached through py4j): a millis long counts
milliseconds on both codec paths and both writers, where it used to be
read as micros."""

from __future__ import annotations

import datetime as dt
import json

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from hyppo_worker_spark.sources.avro_container import (
    _decode,
    read_avro,
    read_container,
    write_container,
    write_container_arrow,
)

MILLIS = 1700000000123
WANT = "2023-11-14 22:13:20.123"
UTC = dt.datetime(2023, 11, 14, 22, 13, 20, 123000, tzinfo=dt.timezone.utc)
LOGICAL = ["timestamp-millis", "local-timestamp-millis"]


def _schema(logical: str, row_path: bool) -> dict:
    """A record with one millis field; ``row_path`` adds an array field,
    which takes the file off the columnar decoder."""
    fields = [{"name": "ts", "type": {"type": "long", "logicalType": logical}}]
    if row_path:
        fields.append(
            {"name": "tags", "type": {"type": "array", "items": "string"}}
        )
    return {"type": "record", "name": "R", "fields": fields}


def _java_write(spark, schema: dict) -> bytes:
    """One container written by Java Avro's ``DataFileWriter``."""
    jvm = spark._jvm
    avro = jvm.org.apache.avro
    js = avro.Schema.Parser().parse(json.dumps(schema))
    rec = avro.generic.GenericData.Record(js)
    rec.put("ts", jvm.java.lang.Long(MILLIS))
    if len(schema["fields"]) > 1:
        tags = jvm.java.util.ArrayList()
        tags.add("a")
        rec.put("tags", tags)
    out = jvm.java.io.ByteArrayOutputStream()
    writer = avro.file.DataFileWriter(avro.generic.GenericDatumWriter(js))
    writer.setCodec(avro.file.CodecFactory.deflateCodec(6))
    writer.create(js, out)
    writer.append(rec)
    writer.close()
    return bytes(out.toByteArray())


def _java_read_ts(spark, data: bytes) -> list[int]:
    """The raw ``ts`` longs Java's ``DataFileReader`` reads back."""
    avro = spark._jvm.org.apache.avro
    reader = avro.file.DataFileReader(
        avro.file.SeekableByteArrayInput(bytearray(data)),
        avro.generic.GenericDatumReader(),
    )
    got = []
    while reader.hasNext():
        got.append(int(reader.next().get("ts")))
    reader.close()
    return got


def _expected(logical: str):
    return UTC if logical == "timestamp-millis" else UTC.replace(tzinfo=None)


@pytest.mark.parametrize("row_path", [False, True], ids=["columnar", "row"])
@pytest.mark.parametrize("logical", LOGICAL)
def test_java_millis_reads_as_millis(spark, tmp_path, logical, row_path):
    data = _java_write(spark, _schema(logical, row_path))
    assert (_decode(data).columns is None) == row_path  # the path under test

    _, _, rows = read_container(data)
    assert [r["ts"] for r in rows] == [_expected(logical)]

    d = tmp_path / "avro"
    d.mkdir()
    (d / "part-0.avro").write_bytes(data)
    df = read_avro(spark, str(d))
    got = df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS")).collect()
    assert [r[0] for r in got] == [WANT]


@pytest.mark.parametrize("row_path", [False, True], ids=["columnar", "row"])
@pytest.mark.parametrize("logical", LOGICAL)
def test_avro_py_millis_reads_in_java(spark, logical, row_path):
    schema = _schema(logical, row_path)
    ts_type = (
        T.TimestampType() if logical == "timestamp-millis"
        else T.TimestampNTZType()
    )
    st = T.StructType([T.StructField("ts", ts_type, False)])
    row = {"ts": _expected(logical)}
    if row_path:
        st = st.add("tags", T.ArrayType(T.StringType(), False), False)
        row["tags"] = ["a"]
    by_rows = write_container(st, [row], declared_schema=schema)
    assert _java_read_ts(spark, by_rows) == [MILLIS]
    arrow = pa.Table.from_pylist([row], schema=to_arrow_schema(st))
    assert write_container_arrow(st, arrow, declared_schema=schema) == by_rows


def test_millis_floor_matches_java_before_epoch(spark):
    """Sub-millisecond precision floors toward minus infinity, as Java's
    ``Instant.toEpochMilli`` does, on both writers."""
    schema = _schema("timestamp-millis", False)
    st = T.StructType([T.StructField("ts", T.TimestampType(), False)])
    v = dt.datetime(1969, 12, 31, 23, 59, 59, 999500, tzinfo=dt.timezone.utc)
    by_rows = write_container(st, [{"ts": v}], declared_schema=schema)
    arrow = pa.table({"ts": pa.array([v], pa.timestamp("us", "UTC"))})
    assert write_container_arrow(st, arrow, declared_schema=schema) == by_rows
    instant = spark._jvm.java.time.Instant.parse("1969-12-31T23:59:59.999500Z")
    assert _java_read_ts(spark, by_rows) == [instant.toEpochMilli()] == [-1]
