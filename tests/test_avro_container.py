"""Pure-Python Avro Object Container File implementation: spec-level
byte checks (zigzag varints, header framing, sync markers), both
codecs, null handling, and the distributed mapInArrow read/write
round trip. This closes the reference-parity gap (its records zone IS
Avro-with-deflate) without the absent spark-avro jar."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyppo_worker_spark.sources import avro_container as AC

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)

ROWS = [
    {"id": 0, "name": "a", "score": 1.5, "ok": True},
    {"id": -1, "name": None, "score": None, "ok": False},
    {"id": 2**40, "name": "unicode éè", "score": -0.25, "ok": True},
]


def test_zigzag_matches_spec_vectors():
    # Avro spec examples: 0->00, -1->01, 1->02, -2->03, 2->04,
    # -64->7f, 64->80 01
    vectors = {
        0: b"\x00",
        -1: b"\x01",
        1: b"\x02",
        -2: b"\x03",
        2: b"\x04",
        -64: b"\x7f",
        64: b"\x80\x01",
    }
    for n, b in vectors.items():
        assert AC.zigzag_encode(n) == b, n
        v, pos = AC.zigzag_decode(memoryview(b), 0)
        assert (v, pos) == (n, len(b))


def test_header_layout_and_sync_framing():
    blob = AC.write_container(SCHEMA, ROWS, codec="null")
    assert blob[:4] == b"Obj\x01"
    schema, codec, rows = AC.read_container(blob)
    assert codec == "null"
    assert rows == ROWS
    # corrupting a sync marker must be detected, not silently skipped
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="sync"):
        AC.read_container(bytes(bad))


def test_deflate_codec_is_raw_rfc1951():
    blob = AC.write_container(SCHEMA, ROWS, codec="deflate")
    schema, codec, rows = AC.read_container(blob)
    assert codec == "deflate"
    assert rows == ROWS
    # the block payload must be RAW deflate (no zlib wrapper): find
    # the block after the header sync and inflate it with wbits=-15
    null_blob = AC.write_container(SCHEMA, ROWS, codec="null")
    # headers differ only in the avro.codec value; locate sync via md5
    from hyppo_worker_spark.sources.avro_schema import struct_to_avro

    sync = AC._sync_marker(struct_to_avro(SCHEMA))
    body_start = blob.index(sync) + 16
    mv = memoryview(blob)
    _, p = AC.zigzag_decode(mv, body_start)  # record count
    size, p = AC.zigzag_decode(mv, p)
    raw = bytes(mv[p : p + size])
    null_body_start = null_blob.index(sync) + 16
    mvn = memoryview(null_blob)
    _, pn = AC.zigzag_decode(mvn, null_body_start)
    nsize, pn = AC.zigzag_decode(mvn, pn)
    assert zlib.decompress(raw, wbits=-15) == bytes(mvn[pn : pn + nsize])


def test_union_branch_follows_declared_order():
    # struct_to_avro declares [T,"null"]: a VALUE must carry branch
    # byte zigzag(0)=\x00 and NULL zigzag(1)=\x02 (Avro spec "Unions":
    # the prefix indexes the DECLARED union order). Regression for the
    # inverted-branch bug that wrote ["null",T] bytes under a
    # [T,"null"] schema.
    sch = T.StructType([T.StructField("name", T.StringType(), True)])
    val = bytearray()
    AC.encode_record(sch, {"name": "x"}, val)
    assert bytes(val) == b"\x00\x02x"  # branch 0, len 1, 'x'
    nul = bytearray()
    AC.encode_record(sch, {"name": None}, nul)
    assert bytes(nul) == b"\x02"  # branch 1 = null, no payload


def test_reads_foreign_null_first_union_order():
    # A foreign writer may declare ["null", T]; the branch bytes are
    # then inverted relative to ours. read_container must honor the
    # file's own declared order, not assume [T,"null"].
    import json

    from hyppo_worker_spark.sources.avro_schema import struct_to_avro

    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    ours = json.loads(struct_to_avro(sch))
    assert ours["fields"][1]["type"][1] == "null"  # we declare [T,"null"]
    foreign = json.loads(struct_to_avro(sch))
    foreign["fields"][1]["type"] = ["null", "string"]
    # hand-build a container with the foreign schema: one block, 2 rows
    sync = b"S" * 16
    meta = AC._enc_meta_map(
        {
            "avro.schema": json.dumps(foreign).encode(),
            "avro.codec": b"null",
        }
    )
    # row1: id=7, name="hi" -> branch 1 (value) under ["null",T]
    # row2: id=8, name=None -> branch 0 (null) under ["null",T]
    body = (
        AC.zigzag_encode(7) + b"\x02" + AC.zigzag_encode(2) + b"hi"
        + AC.zigzag_encode(8) + b"\x00"
    )
    blob = (
        AC.MAGIC + meta + sync
        + AC.zigzag_encode(2) + AC.zigzag_encode(len(body)) + body + sync
    )
    schema, codec, rows = AC.read_container(blob)
    assert rows == [{"id": 7, "name": "hi"}, {"id": 8, "name": None}]


def test_nullable_int64_above_2_53_exact(spark, tmp_path):
    # pandas would widen a nullable int64 to float64 and round ids
    # above 2^53; the Arrow-native write/read path must keep them exact
    sch = T.StructType([T.StructField("id", T.LongType(), True)])
    big = 2**53 + 1
    df = spark.createDataFrame([(big,), (None,), (big + 2,)], sch)
    out = str(tmp_path / "big.avro")
    n = AC.write_avro(df, out)
    assert n == 3
    got = {r.id for r in AC.read_avro(spark, out).collect()}
    assert got == {big, None, big + 2}


def test_logical_types_round_trip(spark, tmp_path):
    # date / timestamp-micros / decimal logical types: the lineitem-
    # shaped tables (dates, money) can ride the avro edge format
    import datetime as dt
    from decimal import Decimal

    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("d", T.DateType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("amt", T.DecimalType(14, 2), True),
        ]
    )
    rows = [
        (1, dt.date(1992, 1, 3), dt.datetime(2024, 6, 1, 12, 30, 45, 123456),
         Decimal("12345.67")),
        (2, dt.date(1970, 1, 1), None, Decimal("-0.01")),
        (3, None, dt.datetime(1969, 12, 31, 23, 59, 59), None),
    ]
    df = spark.createDataFrame(rows, sch)
    out = str(tmp_path / "logical.avro")
    assert AC.write_avro(df, out) == 3
    back = AC.read_avro(spark, out)
    assert back.schema == sch
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want
    # spec-level: the date is encoded as zigzag(days-since-epoch)
    blob = AC.write_container(
        T.StructType([T.StructField("d", T.DateType(), False)]),
        [{"d": dt.date(1970, 1, 2)}],
        codec="null",
    )
    _, _, back_rows = AC.read_container(blob)
    assert back_rows == [{"d": dt.date(1970, 1, 2)}]


def test_lineitem_shaped_table_rides_avro(spark, tmp_path):
    # the real sf0.001 lineitem head (dates + decimals) round-trips
    import os

    src = "/root/testdata/sf0.001/lineitem.parquet"
    if not os.path.exists(src):
        pytest.skip("testdata absent")
    df = spark.read.parquet(src).limit(50).coalesce(1)
    out = str(tmp_path / "lineitem.avro")
    n = AC.write_avro(df, out)
    assert n == 50
    back = AC.read_avro(spark, out)
    assert back.schema == df.schema
    assert back.count() == 50
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_multi_block_round_trip():
    rows = [{"id": i, "name": f"r{i}", "score": i / 4, "ok": i % 2 == 0}
            for i in range(1000)]
    blob = AC.write_container(SCHEMA, rows, codec="deflate", block_records=128)
    _, _, back = AC.read_container(blob)
    assert back == rows


def test_distributed_round_trip_with_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else f"n{i}",
          None if i % 7 == 0 else i * 0.5, i % 2 == 0)
         for i in range(200)],
        SCHEMA,
    ).repartition(4)
    out = str(tmp_path / "records.avro")
    AC.write_avro(df, out, codec="deflate")
    import os

    parts = [f for f in os.listdir(out) if f.endswith(".avro")]
    assert len(parts) == 4  # one container per partition
    back = AC.read_avro(spark, out)
    assert back.schema == SCHEMA
    got = {(r.id, r.name, r.score, r.ok) for r in back.collect()}
    want = {(r.id, r.name, r.score, r.ok) for r in df.collect()}
    assert got == want
    # schema mismatch fails loudly
    other = T.StructType([T.StructField("id", T.LongType(), False)])
    with pytest.raises(Exception, match="schema mismatch"):
        AC.read_avro(spark, out, expected=other).collect()


def test_array_block_encoding_spec_bytes():
    # spec: array = blocks of (zigzag count, items...), zero-count end
    sch = T.StructType(
        [T.StructField("xs", T.ArrayType(T.LongType(), False), False)]
    )
    out = bytearray()
    AC.encode_record(sch, {"xs": [1, 2]}, out)
    assert bytes(out) == b"\x04\x02\x04\x00"  # count=2, zz(1), zz(2), end
    empty = bytearray()
    AC.encode_record(sch, {"xs": []}, empty)
    assert bytes(empty) == b"\x00"
    back, pos = AC.decode_record(sch, memoryview(bytes(out)), 0)
    assert back == {"xs": [1, 2]} and pos == 4


def test_nested_types_round_trip(spark, tmp_path):
    # arrays (nullable elements), string-keyed maps, nested structs —
    # the shapes the reference's arbitrary record schemas can carry
    sch = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField(
                "emb", T.ArrayType(T.FloatType(), True), True
            ),
            T.StructField(
                "props", T.MapType(T.StringType(), T.LongType(), True), True
            ),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("w", T.IntegerType(), True),
                        T.StructField("tag", T.StringType(), False),
                    ]
                ),
                True,
            ),
        ]
    )
    rows = [
        (1, [1.5, None, -0.25], {"a": 1, "b": None}, (3, "x")),
        (2, None, None, None),
        (3, [], {}, (None, "y")),
    ]
    df = spark.createDataFrame(rows, sch)
    out = str(tmp_path / "nested.avro")
    assert AC.write_avro(df, out) == 3
    back = AC.read_avro(spark, out)
    assert back.schema == sch
    got = {r.id: (r.emb, r.props, r.meta) for r in back.collect()}
    want = {r.id: (r.emb, r.props, r.meta) for r in df.collect()}
    assert got == want


def test_embeddings_table_rides_avro(spark, tmp_path):
    import os

    src = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(src):
        pytest.skip("testdata absent")
    df = spark.read.parquet(src).limit(40).coalesce(1)
    out = str(tmp_path / "emb.avro")
    assert AC.write_avro(df, out) == 40
    back = AC.read_avro(spark, out)
    assert back.schema == df.schema
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_nested_union_order_from_file_schema():
    # a foreign file declaring ["null", float] ARRAY ITEMS must decode
    # with inverted branch bytes at the nested site too
    import json

    from hyppo_worker_spark.sources.avro_schema import (
        null_branch_indices,
        struct_to_avro,
    )

    sch = T.StructType(
        [T.StructField("xs", T.ArrayType(T.LongType(), True), False)]
    )
    ours = json.loads(struct_to_avro(sch))
    assert null_branch_indices(ours) == {"xs[]": 1}
    foreign = json.loads(struct_to_avro(sch))
    foreign["fields"][0]["type"]["items"] = ["null", "long"]
    assert null_branch_indices(foreign) == {"xs[]": 0}
    # hand-build: [7, None] under ["null",long] items ->
    # count=2, branch zz(1)=\x02 then zz(7), branch zz(0)=\x00, end
    sync = b"S" * 16
    meta = AC._enc_meta_map(
        {"avro.schema": json.dumps(foreign).encode(), "avro.codec": b"null"}
    )
    body = b"\x04" + b"\x02" + AC.zigzag_encode(7) + b"\x00" + b"\x00"
    blob = (
        AC.MAGIC + meta + sync
        + AC.zigzag_encode(1) + AC.zigzag_encode(len(body)) + body + sync
    )
    _, _, rows = AC.read_container(blob)
    assert rows == [{"xs": [7, None]}]


def test_distributed_declared_schema_roundtrip(spark, tmp_path):
    """write_avro with a DECLARED enum/fixed schema: every part file
    embeds the declared JSON verbatim (fingerprint-preserving) and
    enum/fixed wire forms hold; read_avro decodes the values back."""
    import glob
    import json

    declared = json.dumps({
        "type": "record", "name": "ef",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "status",
             "type": {"type": "enum", "name": "st",
                      "symbols": ["OK", "WARN", "FAIL"]}},
            {"name": "tag",
             "type": {"type": "fixed", "name": "t4", "size": 4}},
        ],
    })
    from hyppo_worker_spark.sources.avro_schema import avro_to_struct

    st = avro_to_struct(declared)
    df = spark.createDataFrame(
        [(1, "OK", b"AAAA"), (2, "FAIL", b"\x00\x01\x02\x03")], st
    )
    out = str(tmp_path / "declared")
    assert AC.write_avro(df, out, codec="null", declared_schema=declared) == 2
    for part in glob.glob(out + "/part-*.avro"):
        with open(part, "rb") as fh:
            blob = fh.read()
        assert declared.encode() in blob  # embedded verbatim
    back = AC.read_avro(spark, out)
    got = {(r.id, r.status, bytes(r.tag)) for r in back.collect()}
    assert got == {(1, "OK", b"AAAA"), (2, "FAIL", b"\x00\x01\x02\x03")}
