"""Property-based round-trip coverage for the pure-Python Avro Object
Container implementation (`sources/avro_container.py`).

The example-based spec tests pin hand-computed byte vectors; this
suite drives the SAME codec through randomly generated schemas and
adversarial values (int64 extremes beyond 2^53, unicode/empty/long
strings, zero-scale and max-scale decimals, epoch-adjacent and far
dates/timestamps, empty and nested collections, dense null patterns)
with both codecs and 1-record blocks, so every block/framing boundary
is exercised. Flat drawn schemas also run the columnar codec against
the row codec, byte for byte. All driver-side — no Spark session needed.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pyarrow as pa
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from hyppo_worker_spark.sources import avro_container as AC

# -- value strategies per leaf type ---------------------------------------

_longs = st.one_of(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.sampled_from(
        [0, -1, 1, 2**53, 2**53 + 1, -(2**53) - 1, 2**62, -(2**62), 63, -64]
    ),
)
_strings = st.text(max_size=40)  # hypothesis text is surrogate-free
_doubles = st.floats(allow_nan=False, allow_infinity=False, width=64)
_bools = st.booleans()
_binaries = st.binary(max_size=24)
_dates = st.dates(
    min_value=dt.date(1, 1, 1), max_value=dt.date(9999, 12, 28)
)
_ts = st.datetimes(
    min_value=dt.datetime(1, 1, 2), max_value=dt.datetime(9999, 12, 28)
)


def _decimals(precision: int, scale: int):
    q = decimal.Decimal(1).scaleb(-scale)
    return st.decimals(
        min_value=-(decimal.Decimal(10) ** (precision - scale)) + 1,
        max_value=(decimal.Decimal(10) ** (precision - scale)) - 1,
        allow_nan=False,
        allow_infinity=False,
        places=scale,
    ).map(lambda d: d.quantize(q))


_LEAVES: list[tuple[T.DataType, st.SearchStrategy]] = [
    (T.LongType(), _longs),
    (T.IntegerType(), st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    (T.StringType(), _strings),
    (T.DoubleType(), _doubles),
    (T.BooleanType(), _bools),
    (T.BinaryType(), _binaries),
    (T.DateType(), _dates),
    (T.TimestampNTZType(), _ts),
    (T.DecimalType(12, 2), _decimals(12, 2)),
    (T.DecimalType(6, 0), _decimals(6, 0)),
    (T.ArrayType(T.LongType(), True), st.lists(_longs, max_size=5)),
    (T.ArrayType(T.StringType(), True), st.lists(_strings, max_size=4)),
    (
        T.MapType(T.StringType(), T.LongType(), True),
        st.dictionaries(st.text(max_size=8), _longs, max_size=4),
    ),
]


@st.composite
def _schema_and_rows(draw):
    idxs = draw(
        st.lists(
            st.integers(0, len(_LEAVES) - 1), min_size=1, max_size=6
        )
    )
    nullables = draw(
        st.lists(st.booleans(), min_size=len(idxs), max_size=len(idxs))
    )
    fields, strategies = [], []
    for pos, (i, nullable) in enumerate(zip(idxs, nullables)):
        dtype, strat = _LEAVES[i]
        fields.append(T.StructField(f"f{pos}", dtype, nullable))
        strategies.append(st.none() | strat if nullable else strat)
    schema = T.StructType(fields)
    n = draw(st.integers(min_value=0, max_value=8))
    rows = [
        {f.name: draw(s) for f, s in zip(fields, strategies)}
        for _ in range(n)
    ]
    return schema, rows


@settings(max_examples=120, deadline=None)
@given(
    data=_schema_and_rows(),
    codec=st.sampled_from(["null", "deflate", "bzip2", "xz"]),
)
def test_container_round_trips_random_schemas(data, codec):
    schema, rows = data
    blob = AC.write_container(schema, rows, codec=codec, block_records=1)
    got_schema, got_codec, back = AC.read_container(blob)
    assert got_codec == codec
    assert [f.dataType for f in got_schema.fields] == [
        f.dataType for f in schema.fields
    ]
    assert back == rows
    if AC._flat_plan(schema, None, None) is not None:
        # flat schema: the columnar writer matches the row writer byte
        # for byte, and the columnar reader's Arrow batch holds the rows
        arrow_schema = to_arrow_schema(schema)
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
        assert (
            AC.write_container_arrow(schema, table, codec=codec, block_records=1)
            == blob
        )
        assert AC._decode(blob).to_batch(arrow_schema).to_pylist() == rows


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {
                "k": _longs,
                "v": st.none() | _strings,
                "w": st.none() | _decimals(10, 3),
            }
        ),
        max_size=20,
    )
)
def test_nested_record_of_unions_round_trips(rows):
    schema = T.StructType(
        [
            T.StructField(
                "rec",
                T.StructType(
                    [
                        T.StructField("k", T.LongType(), False),
                        T.StructField("v", T.StringType(), True),
                        T.StructField("w", T.DecimalType(10, 3), True),
                    ]
                ),
                True,
            )
        ]
    )
    wrapped = [
        {"rec": (None if (r["k"] % 7 == 0 and r["v"] is None) else r)}
        for r in rows
    ]
    blob = AC.write_container(schema, wrapped, codec="deflate")
    _, _, back = AC.read_container(blob)
    assert back == wrapped
