"""Full ingestion composition: the connector's polling-loop stream
source feeds the dedup admission sink — the reference's fetch cycle
wired straight into training-corpus admission. Tasks appended to the
task log arrive as micro-batches; each batch is deduped within itself
and against everything admitted before; only canonical firsts land in
the corpus and the LSH index."""

from __future__ import annotations

import json
import os

import pytest

from hyppo_worker_spark.sources.integration_source import (
    register_integration_source,
)
from hyppo_worker_spark.streaming.ingest_dedup import (
    DedupIngestSink,
    dedup_ingest,
)

DOC_SCHEMA = "doc_id string, text string"
FETCHER = (
    "hyppo_worker_spark.sources.integration_source:"
    "synthetic_documents_fetcher"
)


@pytest.fixture(scope="module")
def registered(spark):
    register_integration_source(spark)
    return spark


def _append_task(task_log: str, docs: list[list]) -> None:
    with open(task_log, "a", encoding="utf-8") as fh:
        fh.write(json.dumps({"docs": docs}) + "\n")


def _drain(spark, task_log, sink, ckpt):
    stream = (
        spark.readStream.format("hyppo_integration")
        .schema(DOC_SCHEMA)
        .option("fetcher", FETCHER)
        .option("task_log", task_log)
        .load()
    )
    q = dedup_ingest(stream, sink, ckpt)
    q.awaitTermination(240)


def test_connector_stream_feeds_admission(registered, tmp_path):
    task_log = str(tmp_path / "task_log.jsonl")
    ckpt = str(tmp_path / "ckpt")
    sink = DedupIngestSink(registered, str(tmp_path / "store"))

    # drain 1: two originals
    _append_task(task_log, [["a1", "alpha", 120, 0], ["b1", "beta", 120, 0]])
    _drain(registered, task_log, sink, ckpt)

    # drain 2 (same checkpoint — only the NEW task slice is fetched):
    # a near-dup of a1, an exact copy of b1's text under a new id, and
    # an in-batch near-dup pair c1/c2
    _append_task(
        task_log,
        [
            ["a2", "alpha", 120, 3],
            ["b9", "beta", 120, 0],
            ["c1", "gamma", 120, 0],
            ["c2", "gamma", 120, 2],
        ],
    )
    _drain(registered, task_log, sink, ckpt)

    corpus = sink.corpus()
    kept = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    assert kept == ["a1", "b1", "c1"]

    # the index holds exactly the admitted docs
    sh, _band = sink.index.load(registered)
    assert sorted(r.did for r in sh.select("did").distinct().collect()) == kept
