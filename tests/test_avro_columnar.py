"""Columnar avro-py codec (`sources/avro_container.py`): the Arrow-buffer
writer must emit exactly the row codec's bytes, and the generated
per-column reader must decode them — including the edge values a
vectorised varint or IEEE path gets wrong first — and fail loud on a
corrupt container. The Spark tests pin the distributed write: one job,
no file for an empty partition, the driver reading only a header."""

from __future__ import annotations

import datetime as dt
import json
import os
import struct

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from hyppo_worker_spark.sources import avro_container as AC

FLAT = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("qty", T.IntegerType(), True),
    ]
)


def _both(schema, rows, **kw) -> bytes:
    """The row codec's bytes, after checking the columnar writer emits
    the same from the Arrow form of ``rows``."""
    blob = AC.write_container(schema, rows, **kw)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    assert AC.write_container_arrow(schema, table, **kw) == blob
    return blob


def _batch(blob: bytes, schema: T.StructType) -> pa.RecordBatch:
    return AC._decode(blob).to_batch(to_arrow_schema(schema))


def _block_counts(blob: bytes) -> list[int]:
    buf = memoryview(blob)
    meta, pos = AC._read_header(buf)
    sync = bytes(buf[pos : pos + 16])
    codec = meta["avro.codec"].decode()
    return [n for n, _ in AC._blocks(buf, pos + 16, codec, sync)]


def test_integer_extremes_round_trip():
    schema = T.StructType(
        [
            T.StructField("l", T.LongType(), True),
            T.StructField("i", T.IntegerType(), False),
            T.StructField("s", T.ShortType(), True),
            T.StructField("b", T.ByteType(), True),
        ]
    )
    edges = [
        (-(2**63), -(2**31), -(2**15), -(2**7)),
        (2**63 - 1, 2**31 - 1, 2**15 - 1, 2**7 - 1),
        (0, 0, 0, 0),
        (-1, -1, -1, -1),
        (63, 63, 63, 63),
        (-64, -64, -64, -64),
        (64, 64, None, 64),
        (None, 2**14, -(2**14), None),
        (2**53 + 1, 2**30, 2**13, 2**6),
    ]
    rows = [dict(zip("lisb", e)) for e in edges]
    for codec in ("null", "deflate"):
        blob = _both(schema, rows, codec=codec)
        assert AC.read_container(blob)[2] == rows
        assert _batch(blob, schema).to_pylist() == rows
    # int64 min zigzags to 2^64 - 1: the longest, ten-byte varint
    assert AC.zigzag_encode(-(2**63)) == b"\xff" * 9 + b"\x01"


def test_float_specials_compare_bitwise():
    specials = [
        float("nan"),
        -float("nan"),
        0.0,
        -0.0,
        float("inf"),
        -float("inf"),
        1.5,
        None,
    ]
    schema = T.StructType(
        [
            T.StructField("d", T.DoubleType(), True),
            T.StructField("f", T.FloatType(), True),
        ]
    )
    rows = [{"d": v, "f": v} for v in specials] + [{"d": 5e-324, "f": 2.0**-149}]
    blob = _both(schema, rows, codec="deflate")
    back = AC.read_container(blob)[2]
    batch = _batch(blob, schema)
    for name, fmt in (("d", "<d"), ("f", "<f")):
        want = [None if r[name] is None else struct.pack(fmt, r[name]) for r in rows]
        got = [None if r[name] is None else struct.pack(fmt, r[name]) for r in back]
        assert got == want, name
        col = batch.column(name)
        width = struct.calcsize(fmt)
        raw = np.frombuffer(col.buffers()[1], np.uint8)
        got_arrow = [
            None if not ok else raw[i * width : (i + 1) * width].tobytes()
            for i, ok in enumerate(col.is_valid().to_pylist())
        ]
        assert got_arrow == want, name


def test_empty_and_all_null_columns():
    schema = T.StructType(
        [
            T.StructField("s", T.StringType(), True),
            T.StructField("bin", T.BinaryType(), True),
            T.StructField("e", T.StringType(), False),
            T.StructField("n", T.LongType(), True),
            T.StructField("x", T.DoubleType(), True),
            T.StructField("ok", T.BooleanType(), True),
            T.StructField("day", T.DateType(), True),
        ]
    )
    rows = [
        {"s": "" if i % 2 else None, "bin": b"" if i % 3 else None, "e": "",
         "n": None, "x": None, "ok": None, "day": None}
        for i in range(10)
    ]
    blob = _both(schema, rows, codec="null")
    assert AC.read_container(blob)[2] == rows
    assert _batch(blob, schema).to_pylist() == rows
    # no rows at all: a header-only container, decoded to an empty batch
    empty = _both(schema, [], codec="deflate")
    assert AC.read_container(empty)[2] == []
    assert _batch(empty, schema).num_rows == 0


def test_logical_types_and_multibyte_text():
    schema = T.StructType(
        [
            T.StructField("day", T.DateType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("local", T.TimestampNTZType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("raw", T.BinaryType(), False),
        ]
    )
    utc = dt.timezone.utc
    rows = [
        {"day": dt.date(1, 1, 1), "ts": dt.datetime(1969, 12, 31, 23, 59, 59, 1, utc),
         "local": dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
         "text": "héllo ✓ 𝄞", "raw": bytes(range(256))},
        {"day": None, "ts": None, "local": dt.datetime(1970, 1, 1),
         "text": None, "raw": b"\x00"},
        {"day": dt.date(1970, 1, 2), "ts": dt.datetime(2024, 6, 1, 12, 30, tzinfo=utc),
         "local": dt.datetime(1, 1, 1), "text": "x" * 300, "raw": b""},
    ]
    blob = _both(schema, rows, codec="deflate")
    assert AC.read_container(blob)[2] == rows
    assert _batch(blob, schema).to_pylist() == rows
    # 64-bit offsets (large_string / large_binary) encode the same
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    large = table.cast(
        pa.schema(
            [
                f.with_type(pa.large_string()) if f.name == "text"
                else f.with_type(pa.large_binary()) if f.name == "raw"
                else f
                for f in table.schema
            ]
        )
    )
    assert AC.write_container_arrow(schema, large, codec="deflate") == blob


def test_blocks_span_more_than_4096_rows_and_arrow_chunks():
    rows = [
        {"id": i, "key": None if i % 7 == 0 else f"k{i % 97}", "qty": i % 300 - 150}
        for i in range(10_000)
    ]
    blob = _both(FLAT, rows, codec="deflate")
    assert _block_counts(blob) == [4096, 4096, 1808]
    assert AC.read_container(blob)[2] == rows
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(FLAT))
    # chunk boundaries that do not fall on block boundaries, and a
    # sliced (offset) view, encode to the same bytes
    chunked = pa.concat_tables([table.slice(0, 3001), table.slice(3001)])
    assert AC.write_container_arrow(FLAT, chunked) == blob
    assert AC.write_container_arrow(
        FLAT, table.slice(5, 4500)
    ) == AC.write_container(FLAT, rows[5:4505])


def test_declared_null_first_unions_match_row_writer():
    declared = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "key", "type": ["null", "string"]},
            {"name": "qty", "type": ["null", "int"]},
        ],
    }
    rows = [{"id": 1, "key": "a", "qty": None}, {"id": 2, "key": None, "qty": 7}]
    blob = _both(FLAT, rows, codec="null", declared_schema=declared)
    assert json.dumps(declared).encode() in blob
    assert AC.read_container(blob)[2] == rows
    assert _batch(blob, FLAT).to_pylist() == rows


def test_schema_picks_the_codec():
    assert AC._flat_plan(FLAT, None, None) == (
        ("long", None, 0),
        ("string", 2, 0),
        ("long", 2, 0),
    )
    nested = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("xs", T.ArrayType(T.LongType(), True), True),
        ]
    )
    money = T.StructType([T.StructField("amt", T.DecimalType(10, 2), True)])
    assert AC._flat_plan(nested, None, None) is None
    assert AC._flat_plan(money, None, None) is None
    assert AC._flat_plan(FLAT, None, {"key": ("enum", ["a"])}) is None
    # non-flat schemas still write through the row codec, same bytes
    rows = [{"id": 1, "xs": [1, None]}, {"id": 2, "xs": None}]
    _both(nested, rows, codec="deflate")


def _null_container(schema, rows) -> tuple[bytes, int]:
    """A null-codec container and the offset of its first block."""
    blob = AC.write_container(schema, rows, codec="null")
    _, pos = AC._read_header(memoryview(blob))
    return blob, pos + 16


ROWS = [{"id": i, "key": f"k{i}", "qty": i} for i in range(50)]


def test_corrupt_sync_byte_raises():
    blob, _ = _null_container(FLAT, ROWS)
    for at in (len(blob) - 1, len(blob) - 16):  # the block's trailing sync
        bad = bytearray(blob)
        bad[at] ^= 0x01
        with pytest.raises(ValueError, match="sync"):
            AC.read_container(bytes(bad))
    deflated = AC.write_container(FLAT, ROWS, codec="deflate")
    bad = bytearray(deflated)
    bad[-3] ^= 0x80
    with pytest.raises(ValueError, match="sync"):
        AC._decode(bytes(bad))


def test_truncated_block_raises():
    blob, start = _null_container(FLAT, ROWS)
    for cut in (len(blob) - 1, len(blob) - 17, start + 40, start + 2):
        with pytest.raises(ValueError, match="truncated"):
            AC.read_container(blob[:cut])


def test_block_length_mismatch_raises():
    blob, start = _null_container(FLAT, ROWS)
    buf = memoryview(blob)
    count, p = AC.zigzag_decode(buf, start)
    size, p = AC.zigzag_decode(buf, p)
    body = blob[p : p + size]
    sync = blob[p + size :]
    head = blob[:start]

    def framed(n: int, payload: bytes) -> bytes:
        return head + AC.zigzag_encode(n) + AC.zigzag_encode(len(payload)) + payload + sync

    # one stray byte inside the declared size: decoded 1 byte short
    with pytest.raises(ValueError, match="decoded"):
        AC.read_container(framed(count, body + b"\x00"))
    # one record fewer than the payload holds
    with pytest.raises(ValueError, match="decoded"):
        AC.read_container(framed(count - 1, body))
    # one record more than the payload holds: runs off the end
    with pytest.raises(ValueError, match="corrupt"):
        AC.read_container(framed(count + 1, body))
    # a string length pointing past the block
    with pytest.raises(ValueError, match="past the block"):
        AC.read_container(framed(1, AC.zigzag_encode(0) + b"\x00\x7e" + b"ab"))
    # a union branch byte that is neither branch
    with pytest.raises(ValueError, match="union branch"):
        AC.read_container(framed(1, AC.zigzag_encode(0) + b"\x04"))


def _group_jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_avro_is_one_job_and_matches_row_writer(spark, tmp_path):
    rows = [
        (i, None if i % 5 == 0 else f"ключ-{i}", None if i % 3 == 0 else i - 20)
        for i in range(5000)
    ]
    df = spark.createDataFrame(rows, FLAT).coalesce(1)
    out = str(tmp_path / "one")
    n, jobs = _group_jobs(spark, "avro-columnar-write", lambda: AC.write_avro(df, out))
    assert (n, jobs) == (5000, 1)
    (part,) = [f for f in os.listdir(out) if f.endswith(".avro")]
    with open(os.path.join(out, part), "rb") as fh:
        blob = fh.read()
    want = [dict(zip(FLAT.names, r)) for r in rows]
    assert blob == AC.write_container(FLAT, want)
    back = sorted(tuple(r) for r in AC.read_avro(spark, out).collect())
    assert back == sorted(rows)
    # a columnar-decodable file still fails loud on a schema mismatch
    other = T.StructType([T.StructField("id", T.LongType(), False)])
    with pytest.raises(Exception, match="schema mismatch"):
        AC.read_avro(spark, out, expected=other).collect()


def test_write_avro_skips_empty_partitions(spark, tmp_path):
    # 2 rows over 4 partitions: two partitions are empty
    df = spark.range(0, 2, 1, 4).selectExpr(
        "id", "cast(id as string) as key", "cast(id as int) as qty"
    )
    out = str(tmp_path / "sparse")
    assert AC.write_avro(df, out) == 2
    parts = sorted(f for f in os.listdir(out) if f.endswith(".avro"))
    assert len(parts) == 2 and "part-empty.avro" not in parts
    back = sorted(tuple(r) for r in AC.read_avro(spark, out).collect())
    assert back == [(0, "0", 0), (1, "1", 1)]
    # nothing at all: one header-only file keeps the schema readable
    none = str(tmp_path / "none")
    assert AC.write_avro(df.limit(0), none) == 0
    assert os.listdir(none) == ["part-empty.avro"]
    got = AC.read_avro(spark, none)
    assert got.count() == 0 and got.schema.names == df.schema.names


def test_read_avro_takes_schema_from_header_only(spark, tmp_path):
    blob, start = _null_container(FLAT, ROWS)
    out = tmp_path / "corrupt"
    out.mkdir()
    # header intact, first block's payload cut short
    (out / "part-0.avro").write_bytes(blob[: start + 30])
    df = AC.read_avro(spark, str(out))  # the driver reads the header only
    assert df.schema == FLAT
    with pytest.raises(Exception, match="truncated"):
        df.collect()
