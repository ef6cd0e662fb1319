"""Ingestion-time streaming dedup: batches arrive in a deterministic
order (one file per micro-batch, mtime-ordered); the admitted corpus
must keep exactly the first-arrived canonical of every exact/near-dup
cluster, and a replayed batch must be a no-op."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hyppo_worker_spark.streaming.ingest_dedup import (
    DedupIngestSink,
    dedup_ingest,
)


def _text(prefix: str, n: int = 120, changed: int = 0) -> str:
    words = [f"{prefix}{i:03d}" for i in range(n)]
    for j in range(changed):
        words[10 + 7 * j] = f"chg{prefix}{j}"
    return " ".join(words)


@pytest.fixture()
def staged_source(tmp_path):
    """Three single-file micro-batches with increasing mtimes."""
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # batch 0: two originals
        [("a1", _text("alpha")), ("b1", _text("beta"))],
        # batch 1: near-dup of a1 (reject), exact copy of b1's text
        # under a new id (reject), plus an in-batch near-dup pair
        # c1/c2 (keep c1 only)
        [
            ("a2", _text("alpha", changed=3)),
            ("b9", _text("beta")),
            ("c1", _text("gamma")),
            ("c2", _text("gamma", changed=2)),
        ],
        # batch 2: near-dup of b1 (reject) + a brand-new doc
        [("b2", _text("beta", changed=3)), ("d1", _text("delta"))],
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        table = pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
            }
        )
        path = str(src / f"batch{i}.parquet")
        pq.write_table(table, path)
        os.utime(path, (now - 300 + 100 * i, now - 300 + 100 * i))
    return str(src)


def test_streaming_ingest_admits_first_arrivals_only(
    spark, tmp_path, staged_source
):
    base = str(tmp_path / "store")
    sink = DedupIngestSink(spark, base)
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_source)
    )
    q = dedup_ingest(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    corpus = sink.corpus()
    kept = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    assert kept == ["a1", "b1", "c1", "d1"]

    # per-batch admission trace: (in, kept) per batch in arrival order
    trace = [(n_in, n_kept) for _, n_in, n_kept in sorted(sink.admitted_counts)]
    assert trace == [(2, 2), (4, 1), (2, 1)]

    # the index grew only with admitted docs
    sh, band = sink.index.load(spark)
    assert sorted(r.did for r in sh.select("did").distinct().collect()) == [
        "a1", "b1", "c1", "d1",
    ]
    assert band.filter(~F.col("did").isin("a1", "b1", "c1", "d1")).count() == 0


def test_replayed_batch_is_noop(spark, tmp_path, staged_source):
    base = str(tmp_path / "store")
    sink = DedupIngestSink(spark, base)
    b0 = spark.createDataFrame(
        [("x1", _text("xi")), ("x2", _text("xi", changed=2))],
        "doc_id string, text string",
    )
    sink(b0, 0)
    n1 = sink.corpus().count()
    assert n1 == 1  # in-batch near-dup collapsed
    sink(b0, 0)  # at-least-once replay of the SAME batch id
    n2 = sink.corpus().count()
    assert n2 == n1

    # a NEW batch id with previously-admitted content is rejected by
    # the corpus checks (not the batch ack): same text, different ids
    b1 = spark.createDataFrame(
        [("y1", _text("xi")), ("y2", _text("xi", changed=3))],
        "doc_id string, text string",
    )
    sink(b1, 1)
    kept = sorted(
        r.doc_id
        for r in sink.corpus().collect()
    )
    assert kept == ["x1"]


def test_banded_index_is_partition_pruned(spark, tmp_path):
    """The banded frame is directory-partitioned by band_pt and a
    probe's scan is statically pruned to the probe's own partitions,
    also when the index spans several segments; pruned and unpruned
    probes return identical pairs."""
    from hyppo_worker_spark.operators.lsh_index import MinHashLshIndex
    from hyppo_worker_spark.plans.explain import formatted_plan

    idx = MinHashLshIndex(str(tmp_path / "idx"))
    corpus = spark.createDataFrame(
        [(f"doc{i}", _text(f"w{i}")) for i in range(30)],
        "doc_id string, text string",
    )
    for half in ("doc_id < 'doc2'", "doc_id >= 'doc2'"):  # two segments
        idx.append(*idx.compute_frames(corpus.filter(half), "doc_id", "text"))
    assert len(idx.gens.paths("shingles")) == 2

    # layout: band_pt=N directories, each file sorted by band_key
    banded_dir = os.path.join(str(tmp_path / "idx"), "banded")
    parts = [d for d in os.listdir(banded_dir) if d.startswith("band_pt=")]
    assert len(parts) > 1

    probe = spark.createDataFrame(
        [("probe1", _text("w7", changed=2))], "doc_id string, text string"
    )
    sh_n, band_n = idx.compute_frames(probe, "doc_id", "text")
    pruned = idx.pairs_against(spark, sh_n, band_n)
    full = idx.pairs_against(spark, sh_n, band_n, prune=False)

    # the probe is a near-dup of doc7 and must be found either way
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert pruned.filter(F.col("a_id") == "doc7").count() == 1

    # and the pruned plan's index scan carries a band_pt partition
    # filter (a 6-band single doc cannot cover all 16 buckets)
    plan = formatted_plan(pruned)
    assert "band_pt" in plan and "PartitionFilters" in plan
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert any("band_pt" in f and f.strip() for f in pf)


def test_admission_hashes_survivors_once(spark, tmp_path, monkeypatch):
    """Each admitted batch hashes its survivors into index frames at
    most once: the frames the index check used are the frames written,
    filtered to the kept ids."""
    from collections import Counter

    from hyppo_worker_spark.operators.lsh_index import MinHashLshIndex

    calls = []
    real = MinHashLshIndex.compute_frames

    def counted(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(MinHashLshIndex, "compute_frames", counted)
    sink = DedupIngestSink(spark, str(tmp_path / "store"))

    def admit(rows, batch_id):
        calls.clear()
        sink(spark.createDataFrame(rows, "doc_id string, text string"), batch_id)
        return len(calls)

    assert admit([("a1", _text("alpha")), ("b1", _text("beta"))], 0) <= 1
    batch1 = [
        ("a2", _text("alpha", changed=2)),  # near-dup of a1: rejected
        ("c1", _text("gamma")),
        ("c9", _text("gamma")),  # exact dup of c1 in the batch
    ]
    assert admit(batch1, 1) <= 1
    assert admit(batch1, 1) == 0  # a replay is a no-op

    kept = sorted(r.doc_id for r in sink.corpus().collect())
    assert kept == ["a1", "b1", "c1"]
    sh, band = sink.index.load(spark)
    assert sorted(r.did for r in sh.collect()) == kept
    assert sorted(Counter(r.did for r in band.collect()).items()) == [
        (i, sink.index.bands) for i in kept
    ]
