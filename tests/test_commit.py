"""Recovery semantics of the generation commit (``generations.py``).

The replay invariant: an UNACKED batch will be re-applied by Structured
Streaming after restart, so a crash anywhere before the pointer flip
must leave readers and the replay on the PRE-batch generation, and a
crash after the flip must leave the batch acked (its replay a no-op).
Recovery is only GC at the start of the next commit: it deletes every
entry the pointer does not reference. Generation ids live in the
pointer as integers, so ids past 9 resolve without any name ordering.

Each test crashes one real commit at one step (the pointer replace,
the step right after the flip, a bucket rename) and then works on a
fresh ``Generations`` built from disk.
"""

from __future__ import annotations

import os

import pytest

from hyppo_worker_spark import generations
from hyppo_worker_spark.generations import POINTER, Generations
from hyppo_worker_spark.profile import profile


class Crash(Exception):
    """The injected failure."""


def _tagged(spark, tag: str):
    return spark.createDataFrame([(tag,)], "tag string")


def _tags(spark, gens: Generations) -> list[str]:
    return sorted(r.tag for r in gens.read(spark).collect())


def _parts(path: str) -> set[str]:
    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.startswith("part-")
    }


def _raise(*a, **kw):
    raise Crash()


def test_recover_rolls_back_unmarked_swap(spark, tmp_path, monkeypatch):
    # crash AFTER the data write, BEFORE the pointer flip: the post-batch
    # generation sits on disk, the pointer still names the pre-batch one
    root = str(tmp_path / "t")
    Generations(root).commit(_tagged(spark, "pre-batch-3"), 2)
    with monkeypatch.context() as m:
        m.setattr(os, "replace", _raise)
        with pytest.raises(Crash):
            Generations(root).commit(_tagged(spark, "post-batch-3"), 3)
    crashed = _parts(os.path.join(root, "g-2"))
    assert crashed

    gens = Generations(root)
    assert not gens.done(3)
    # the replay of batch 3 must see the PRE-batch table
    assert _tags(spark, gens) == ["pre-batch-3"]
    gens.commit(_tagged(spark, "post-batch-3"), 3)  # the replay
    assert gens.done(3)
    assert _tags(spark, gens) == ["post-batch-3"]
    # the crashed attempt's files and pointer tmp are gone
    assert not crashed & _parts(root)
    assert sorted(os.listdir(root)) == [POINTER, "g-1", "g-2"]


def test_recover_keeps_table_when_newest_old_is_marked(
    spark, tmp_path, monkeypatch
):
    # crash AFTER the pointer flip, before the sink returns: the flip is
    # the ack, so the post-batch table stays and the superseded
    # generation is garbage for the next commit's GC
    root = str(tmp_path / "t")
    Generations(root).commit(_tagged(spark, "pre-batch-4"), 3)
    real = generations.publish_json

    def flip_then_crash(*a, **kw):
        real(*a, **kw)
        raise Crash()

    with monkeypatch.context() as m:
        m.setattr(generations, "publish_json", flip_then_crash)
        with pytest.raises(Crash):
            Generations(root).commit(_tagged(spark, "post-batch-4"), 4)

    gens = Generations(root)
    assert gens.done(4)  # the replay of batch 4 is skipped
    assert _tags(spark, gens) == ["post-batch-4"]
    assert os.path.isdir(os.path.join(root, "g-1"))
    gens.commit(_tagged(spark, "post-batch-5"), 5)
    assert not os.path.exists(os.path.join(root, "g-1"))
    assert _tags(spark, gens) == ["post-batch-5"]


def test_recover_mid_swap_restores_table(spark, tmp_path, monkeypatch):
    # crash mid-swap of a bucketed commit: bucket 0's new generation is
    # renamed in, bucket 1's is still in the write's output dir
    root = str(tmp_path / "t")
    rows = "tag string, bucket int"
    Generations(root).commit(
        spark.createDataFrame([("pre-0", 0), ("pre-1", 1), ("pre-2", 2)], rows),
        4, partition_by=["bucket"], split=True,
    )
    batch = spark.createDataFrame([("post-0", 0), ("post-1", 1)], rows)
    real_rename = os.rename
    renames = 0

    def rename(*a, **kw):
        nonlocal renames
        renames += 1
        if renames == 2:
            raise Crash()
        real_rename(*a, **kw)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        with pytest.raises(Crash):
            Generations(root).commit(
                batch, 5, partition_by=["bucket"], split=True
            )
    assert os.path.isdir(os.path.join(root, "bucket=0", "g-2"))
    assert os.path.isdir(os.path.join(root, "g-2"))
    crashed = _parts(os.path.join(root, "bucket=0", "g-2")) | _parts(
        os.path.join(root, "g-2")
    )

    gens = Generations(root)
    assert not gens.done(5)
    assert _tags(spark, gens) == ["pre-0", "pre-1", "pre-2"]
    gens.commit(batch, 5, partition_by=["bucket"], split=True)
    assert _tags(spark, gens) == ["post-0", "post-1", "pre-2"]
    assert not crashed & _parts(root)
    assert not os.path.exists(os.path.join(root, "g-2"))
    assert sorted(gens.pointer()["segments"]) == [
        "bucket=0/g-2", "bucket=1/g-2", "bucket=2/g-1",
    ]


def test_recover_generation_order_is_numeric(spark, tmp_path, monkeypatch):
    # ten acked commits leave g-9 (superseded) and g-10 (live); batch 10
    # then GCs g-9 and crashes before its flip with g-11 written. A name
    # sort would put g-10 before g-11 and g-9 — the pointer's integer
    # decides.
    root = str(tmp_path / "t")
    for b in range(10):
        Generations(root).commit(_tagged(spark, f"batch-{b}"), b)
    assert {"g-9", "g-10"} <= set(os.listdir(root))
    with monkeypatch.context() as m:
        m.setattr(os, "replace", _raise)
        with pytest.raises(Crash):
            Generations(root).commit(_tagged(spark, "batch-10"), 10)
    assert {"g-10", "g-11"} <= set(os.listdir(root))
    assert "g-9" not in os.listdir(root)

    gens = Generations(root)
    assert gens.done(9) and not gens.done(10)
    assert gens.paths() == [os.path.join(root, "g-10")]
    assert _tags(spark, gens) == ["batch-9"]  # not g-9's, not g-11's
    gens.commit(_tagged(spark, "batch-10"), 10)  # the replay
    assert _tags(spark, gens) == ["batch-10"]
    assert sorted(os.listdir(root)) == [POINTER, "g-10", "g-11"]


@pytest.mark.parametrize("layout", ["whole", "split", "framed", "no-schema"])
def test_read_takes_the_recorded_schema(spark, tmp_path, layout):
    # no inference job, and what inference returns, partition columns
    # included; a pointer without recorded schemas still infers
    frame = "corpus" if layout == "framed" else ""
    df = spark.createDataFrame([(i, i % 3, f"v{i}", [0.5 * i]) for i in range(6)],
                               "id long, bucket int, v string, emb array<double>")
    gens = Generations(str(tmp_path / "t"))
    gens.commit(df, partition_by=["bucket"] if layout in ("split", "framed") else None,
                split=layout == "split", frame=frame)
    if layout == "no-schema":
        gens._publish({k: v for k, v in gens.pointer().items() if k != "schemas"})
    base = os.path.join(gens.root, frame)
    inferred = spark.read.option("basePath", base).parquet(*gens.paths(frame))
    read, prof = profile(spark, lambda: gens.read(spark, frame))
    assert prof["jobs"] == (layout == "no-schema")
    assert read.schema == inferred.schema
    assert sorted(read.collect()) == sorted(inferred.collect())
