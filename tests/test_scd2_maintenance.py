"""Streaming SCD2 maintenance: the maintained history after draining
a CDC stream in micro-batches must equal sequential batch
scd2_apply applications, intra-batch updates must compact to the last
writer, and replays must not double-version."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hyppo_worker_spark.streaming.scd2_maintenance import (
    OPEN_TS,
    Scd2DimensionSink,
    maintain_scd2,
)

SCHEMA = "k long, seg string, bal double, update_ts string"


def _rows(*tuples):
    return [
        {"k": k, "seg": seg, "bal": float(bal), "update_ts": ts}
        for k, seg, bal, ts in tuples
    ]


@pytest.fixture()
def staged_cdc(tmp_path):
    """Three single-file micro-batches (mtime-ordered)."""
    src = tmp_path / "cdc"
    src.mkdir()
    batches = [
        # t1: initial load of three keys
        _rows(
            (1, "A", 10, "2024-01-01 00:00:00"),
            (2, "A", 20, "2024-01-01 00:00:00"),
            (3, "B", 30, "2024-01-01 00:00:00"),
        ),
        # t2: k1 changes twice IN one batch (compacts to the 05:00
        # row), k2 is a no-op resubmission, k4 is brand new
        _rows(
            (1, "B", 11, "2024-02-01 04:00:00"),
            (1, "C", 12, "2024-02-01 05:00:00"),
            (2, "A", 20, "2024-02-01 05:00:00"),
            (4, "A", 40, "2024-02-01 05:00:00"),
        ),
        # t3: k3 changes, k1 changes again
        _rows(
            (3, "C", 31, "2024-03-01 00:00:00"),
            (1, "A", 13, "2024-03-01 00:00:00"),
        ),
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        table = pa.table({c: [r[c] for r in rows] for c in ("k", "seg", "bal", "update_ts")})
        path = str(src / f"batch{i}.parquet")
        pq.write_table(table, path)
        os.utime(path, (now - 300 + 100 * i,) * 2)
    return str(src)


def test_streaming_scd2_matches_sequential_batches(spark, tmp_path, staged_cdc):
    sink = Scd2DimensionSink(
        spark, str(tmp_path / "store"), "k", ["seg", "bal"]
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_cdc)
    )
    q = maintain_scd2(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    hist = {
        (r.k, r.valid_from, r.valid_to): (r.seg, r.bal)
        for r in sink.history().collect()
    }
    t1, t2, t3 = (
        "2024-01-01 00:00:00",
        "2024-02-01 05:00:00",
        "2024-03-01 00:00:00",
    )
    expected = {
        # k1: A@t1 (closed t2) -> C@t2 (compacted last writer; closed t3) -> A@t3
        (1, t1, t2): ("A", 10.0),
        (1, t2, t3): ("C", 12.0),
        (1, t3, OPEN_TS): ("A", 13.0),
        # k2: no-op resubmission never spawned a version
        (2, t1, OPEN_TS): ("A", 20.0),
        # k3: B@t1 -> C@t3
        (3, t1, t3): ("B", 30.0),
        (3, t3, OPEN_TS): ("C", 31.0),
        # k4: born at t2
        (4, t2, OPEN_TS): ("A", 40.0),
    }
    assert hist == expected

    open_rows = {r.k: r.seg for r in sink.open_dim().collect()}
    assert open_rows == {1: "A", 2: "A", 3: "C", 4: "A"}


def test_scd2_replay_is_noop(spark, tmp_path):
    sink = Scd2DimensionSink(spark, str(tmp_path / "store"), "k", ["seg"])
    b0 = spark.createDataFrame(
        _rows((1, "A", 1, "2024-01-01 00:00:00")), SCHEMA
    )
    b1 = spark.createDataFrame(
        _rows((1, "B", 1, "2024-02-01 00:00:00")), SCHEMA
    )
    sink(b0, 0)
    sink(b1, 1)
    n1 = sink.history().count()
    sink(b1, 1)  # replay must not close-and-reopen again
    assert sink.history().count() == n1 == 2
