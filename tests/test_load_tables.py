"""load_tables infers a table's parquet schema once: later reads pass
the cached schema and launch no schema job, a table rewritten in place
or read under another inference conf is inferred again, and the
cached-schema read keeps the nanos-as-long ``events`` path, filter
pushdown and column pruning."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hyppo_worker_spark.plans.explain import has_pushed_filter, scan_reads_only
from hyppo_worker_spark.profile import profile
from hyppo_worker_spark.session import load_tables, scoped_conf

SF_DIR = "/root/testdata/sf0.01"


def _load(spark, sf_dir, name):
    return load_tables(spark, sf_dir, (name,))[name]


def test_second_load_launches_no_schema_job(spark, tmp_path):
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()), "v": ["a", "b", "c"]}),
        tmp_path / "lt_probe.parquet",
    )
    first, p_first = profile(spark, lambda: _load(spark, str(tmp_path), "lt_probe"))
    second, p_second = profile(spark, lambda: _load(spark, str(tmp_path), "lt_probe"))
    assert (p_first["jobs"], p_second["jobs"]) == (1, 0)
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, "a"), (2, "b"), (3, "c")]
    spark.catalog.dropTempView("lt_probe")


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path, layout):
    path = tmp_path / "lt_probe.parquet"
    if layout == "directory":  # a Spark-written table: part files in a dir
        path.mkdir()
        path = path / "part-00000.parquet"
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    assert _load(spark, str(tmp_path), "lt_probe").dtypes == [("k", "bigint")]
    pq.write_table(
        pa.table({"k": ["x"], "w": pa.array([0.5], pa.float64())}), path
    )
    df = _load(spark, str(tmp_path), "lt_probe")
    assert df.dtypes == [("k", "string"), ("w", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 0.5)]
    spark.catalog.dropTempView("lt_probe")


def test_inference_conf_change_is_inferred_again(spark, tmp_path):
    pq.write_table(
        pa.table({"b": pa.array([b"ab"], pa.binary())}), tmp_path / "lt_probe.parquet"
    )
    key = "spark.sql.parquet.binaryAsString"
    with scoped_conf(spark, key, "false"):
        assert _load(spark, str(tmp_path), "lt_probe").dtypes == [("b", "binary")]
    with scoped_conf(spark, key, "true"):
        df = _load(spark, str(tmp_path), "lt_probe")
        assert df.dtypes == [("b", "string")]
        assert df.first()[0] == "ab"
    spark.catalog.dropTempView("lt_probe")


def test_events_nanos_read_as_microsecond_ts_on_every_load(spark, tmp_path):
    """An ``events`` table whose ts is INT64 TIMESTAMP(NANOS) reads
    through nanosAsLong and is truncated to microseconds, on the
    inferring read and on the cached-schema read alike."""
    # the third value sits just below the next microsecond: a double
    # division would round it up to ...21.000001
    ns = [
        1_700_000_000_123_456_789,
        1_700_000_001_000_000_001,
        1_700_000_001_000_000_999,
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
        version="2.6",
    )
    want = [
        "2023-11-14 22:13:20.123456",
        "2023-11-14 22:13:21.000000",
        "2023-11-14 22:13:21.000000",
    ]
    try:
        for _ in range(2):
            df = _load(spark, str(tmp_path), "events")
            assert dict(df.dtypes)["ts"] == "timestamp"
            got = df.orderBy("event_id").select(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            )
            assert [r[0] for r in got.collect()] == want
    finally:
        spark.catalog.dropTempView("events")


def test_cached_schema_read_keeps_pushdown_and_pruning(spark):
    from hyppo_worker_spark.queries import load_all

    registry = load_all()
    load_tables(spark, SF_DIR, ("lineitem",))  # the next reads hit the cache
    q06 = registry["q06_forecast_revenue"].spark_fn(spark, SF_DIR)
    for col in ("l_shipdate", "l_quantity", "l_discount"):
        assert has_pushed_filter(q06, col)
    q01 = registry["q01_pricing_summary"].spark_fn(spark, SF_DIR)
    assert scan_reads_only(
        q01,
        "lineitem",
        {
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        },
    )
