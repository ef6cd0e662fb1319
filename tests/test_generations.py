"""Crash drill for the generation commit (``generations.py``).

Every durable table — the HLL/CMS/KMV sketch sinks, the SCD2
dimension, the incremental-CC state in both layouts, the index zones,
the LSH index and the dedup sink's store — commits by writing a
segment and flipping one pointer. The drill fails the k-th filesystem
step of one commit, for every k (each Spark write, each
makedirs/rename/remove/rmtree, the pointer fsync and the pointer
replace), lets the failure propagate out of the sink or zone, and
then replays on a FRESH sink or zone built from disk:

- until the flip, every reader sees the pre-batch table; from the flip
  on, the batch is applied and acked;
- the replay applies an unacked batch exactly once, and an acked
  replay is a no-op (no new commit);
- after the replay, nothing the crashed attempt wrote is left, and
  every entry under the table root is a generation the pointer
  references or the pre-batch one the batch superseded (kept until
  the next commit begins, for readers that resolved it).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from hyppo_worker_spark.generations import POINTER, Generations


class Crash(Exception):
    """The injected failure."""


def _run_crashing_at(monkeypatch, root: str, k: int, run) -> bool:
    """Run ``run()`` with a crash right AFTER its k-th filesystem step
    under ``root``. Returns True when ``run`` finished before step k."""
    steps = 0

    def step():
        nonlocal steps
        steps += 1
        if steps == k:
            raise Crash(k)

    def counted(real, path_of=lambda a: a[0]):
        def wrapped(*a, **kw):
            out = real(*a, **kw)
            if str(path_of(a)).startswith(root):
                step()
            return out

        return wrapped

    real_makedirs = os.makedirs

    def makedirs(path, *a, **kw):
        new = not os.path.isdir(path)
        real_makedirs(path, *a, **kw)
        if new and str(path).startswith(root):
            step()

    with monkeypatch.context() as m:
        m.setattr(os, "makedirs", makedirs)
        for name in ("rename", "replace", "remove"):
            m.setattr(os, name, counted(getattr(os, name)))
        m.setattr(os, "fsync", counted(os.fsync, lambda a: root))
        m.setattr(shutil, "rmtree", counted(shutil.rmtree))
        m.setattr(
            DataFrameWriter, "parquet",
            counted(DataFrameWriter.parquet, lambda a: a[1]),
        )
        try:
            run()
        except Crash:
            return False
    return True


def _data_files(root: str) -> set[str]:
    """Parquet part files (their names carry the writing job's UUID)."""
    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.startswith("part-")
    }


def _entries(root: str, rel: str = "") -> set[str]:
    """The names under ``root``, with each non-empty partition or frame
    directory expanded down to its segments (``bucket=3/g-7``,
    ``banded/band_pt=1/g-2``)."""
    out = set()
    for name in os.listdir(os.path.join(root, rel)):
        sub = os.path.join(rel, name)
        path = os.path.join(root, sub)
        if os.path.isdir(path) and not name.startswith("g-") and os.listdir(path):
            out |= _entries(root, sub)
        else:
            out.add(sub)
    return out


def _referenced(root: str) -> set[str]:
    return {
        os.path.relpath(p, root) for p in Generations(root).paths()
    } | {POINTER}


def _drill(monkeypatch, base: str, root: str, run, crashed, applied) -> int:
    """Sweep k over every step of ``run()`` (one batch or one commit on
    a fresh sink/zone over ``base``), each time from a copy of the
    pre-batch ``base``. ``crashed(flipped)`` checks the state a crash
    leaves (``flipped``: the pointer already names the new
    generation); ``applied()`` checks the state after the replay.
    Returns the number of steps in a full commit."""
    template = base + ".pre"
    shutil.copytree(base, template)
    pre_seq = Generations(root).pointer()["seq"]
    pre_refs = _referenced(root)
    k = 0
    while True:
        k += 1
        shutil.rmtree(base)
        shutil.copytree(template, base)
        if _run_crashing_at(monkeypatch, root, k, run):
            applied()
            return k - 1
        # what the crashed attempt wrote beside the generations the
        # pointer names now or named before the batch
        keep = _referenced(root) | pre_refs
        left = {
            f for f in _data_files(root)
            if not any(f.startswith(os.path.join(root, r, "")) for r in keep)
        }
        crashed(Generations(root).pointer()["seq"] != pre_seq)
        run()  # the replay, on a fresh sink/zone
        applied()
        seq = Generations(root).pointer()["seq"]
        run()  # replaying an acked batch commits nothing
        assert Generations(root).pointer()["seq"] == seq, f"k={k}"
        assert not left & _data_files(root), f"k={k}: crash leftovers survived"
        stale = _entries(root) - _referenced(root) - pre_refs
        assert not stale, f"k={k}: unreferenced entries {stale}"


# ---- the primitive's read side ---------------------------------------


def test_superseded_generation_readable_until_next_commit(spark, tmp_path):
    """A reader that resolved the table before a flip can still scan
    the generation it resolved: GC removes it only when the NEXT
    commit begins."""
    gens = Generations(str(tmp_path / "t"))
    gens.commit(spark.range(3))
    old = gens.read(spark)
    (old_dir,) = gens.paths()
    gens.commit(spark.range(5))
    assert sorted(r.id for r in old.collect()) == [0, 1, 2]
    assert gens.read(spark).count() == 5
    gens.commit(spark.range(7))
    assert not os.path.exists(old_dir)
    assert gens.read(spark).count() == 7


def test_split_read_mixes_generations_and_prunes(spark, tmp_path):
    """Buckets at different generations read back as one table with the
    ``bucket`` column, and a bucket filter prunes to its directory."""
    from hyppo_worker_spark.plans.explain import formatted_plan

    gens = Generations(str(tmp_path / "t"))
    rows = spark.range(40).select(
        "id", (F.col("id") % 4).cast("int").alias("bucket")
    )
    gens.commit(rows, partition_by=["bucket"], split=True)
    gens.commit(  # rewrite bucket 2 only
        rows.filter("bucket = 2").withColumn("id", F.col("id") + 100),
        partition_by=["bucket"], split=True,
    )
    assert sorted(gens.pointer()["segments"]) == [
        "bucket=0/g-1", "bucket=1/g-1", "bucket=2/g-2", "bucket=3/g-1",
    ]
    got = {(r.id, r.bucket) for r in gens.read(spark).collect()}
    assert got == {
        (i + 100 * (i % 4 == 2), i % 4) for i in range(40)
    }
    two = gens.read(spark).filter("bucket = 2")
    assert "PartitionFilters: [isnotnull(bucket" in formatted_plan(two)
    assert {r.id for r in two.collect()} == {i + 100 for i in range(2, 40, 4)}


def test_empty_batch_ack_keeps_table(spark, tmp_path):
    """An empty batch acks by republishing the pointer: the table and
    its generation stay as they were, and the batch's replay is
    skipped."""
    from hyppo_worker_spark.streaming.incremental_cc import IncrementalCCSink

    sink = IncrementalCCSink(spark, str(tmp_path / "cc"))
    sink(spark.createDataFrame([(1, 2)], "a_id long, b_id long"), 0)
    before = Generations(sink.table_dir).pointer()
    sink(spark.createDataFrame([], "a_id long, b_id long"), 1)
    after = Generations(sink.table_dir).pointer()
    assert after == dict(before, batch=1)
    sink(spark.createDataFrame([(2, 3)], "a_id long, b_id long"), 1)
    assert _cc_state(sink) == {(1, 1), (2, 1)}


# ---- sketch sink (whole layout, >10 generations) -----------------------


def test_sketch_sink_drill_exactly_once(spark, tmp_path, monkeypatch):
    """HLL ``n_events`` counts every batch exactly once through a crash
    at any step of batch 10's commit, with generation ids past 10."""
    from hyppo_worker_spark.streaming.sketch_maintenance import (
        SketchRollupSink,
    )

    base = str(tmp_path / "s")

    def batch(i):  # 3 events on day i % 3 + 1
        return spark.createDataFrame(
            [(f"2024-01-0{i % 3 + 1} 00:00:00", 10 * i + u) for u in range(3)],
            "ts string, user_id long",
        )

    def total_events():
        est = SketchRollupSink(spark, base).estimates().collect()
        return {r.day: r.n_events for r in est}["TOTAL"]

    for i in range(10):
        SketchRollupSink(spark, base)(batch(i), i)
    root = SketchRollupSink(spark, base).table_dir
    assert Generations(root).pointer()["seq"] == 10

    def crashed(flipped):
        assert total_events() == (33 if flipped else 30)

    def applied():
        assert total_events() == 33
        gens = Generations(root)
        assert gens.paths() == [os.path.join(root, "g-11")]
        assert gens.last_batch() == 10

    n_steps = _drill(
        monkeypatch, base, root,
        lambda: SketchRollupSink(spark, base)(batch(10), 10),
        crashed, applied,
    )
    # GC of the superseded g-9, the write, the pointer fsync + replace
    assert n_steps == 4


def test_cms_sink_drill_exactly_once(spark, tmp_path, monkeypatch):
    """Count-min counters add, so a replayed batch must not add twice:
    after a crash at any step the counters equal the pre- or the
    post-batch sketch, and after the replay they equal a build over
    every batch once."""
    from hyppo_worker_spark.operators.sketches import cms_counters
    from hyppo_worker_spark.streaming.sketch_maintenance import CmsRollupSink

    base = str(tmp_path / "c")
    docs = ["alpha beta", "beta gamma", "gamma gamma delta"]

    def sink():
        return CmsRollupSink(spark, base, depth=2, width=16)

    def batch(texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def counters():
        return sorted(map(tuple, sink().gens.read(spark).collect()))

    def scratch(texts):
        tc = spark.createDataFrame(
            [(w,) for t in texts for w in t.split()], "token string"
        ).groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        return sorted(map(tuple, cms_counters(
            tc, "token", "cnt", depth=2, width=16
        ).collect()))

    sink()(batch(docs[:1]), 0)
    sink()(batch(docs[1:2]), 1)
    root = sink().table_dir
    pre, post = scratch(docs[:2]), scratch(docs)

    def crashed(flipped):
        assert counters() == (post if flipped else pre)

    def applied():
        assert counters() == post

    n_steps = _drill(
        monkeypatch, base, root, lambda: sink()(batch(docs[2:]), 2),
        crashed, applied,
    )
    assert n_steps == 4


# ---- SCD2 dimension ----------------------------------------------------


def test_scd2_sink_drill_exactly_once(spark, tmp_path, monkeypatch):
    """A crash at any step of an SCD2 batch's commit never drops the
    batch and never double-versions it: the replayed batch closes the
    open version and opens one new version exactly once."""
    from hyppo_worker_spark.streaming.scd2_maintenance import (
        OPEN_TS,
        Scd2DimensionSink,
    )

    base = str(tmp_path / "d")

    def sink():
        return Scd2DimensionSink(spark, base, "k", ["seg"])

    def batch(seg, month):
        return spark.createDataFrame(
            [(1, seg, f"2024-0{month}-01 00:00:00")],
            "k long, seg string, update_ts string",
        )

    def versions():
        return sorted(
            (r.seg, r.valid_to == OPEN_TS) for r in sink().history().collect()
        )

    sink()(batch("A", 1), 0)
    sink()(batch("B", 2), 1)
    root = sink().table_dir
    before = [("A", False), ("B", True)]
    after = [("A", False), ("B", False), ("C", True)]

    def crashed(flipped):
        assert versions() == (after if flipped else before)

    def applied():
        assert versions() == after

    n_steps = _drill(
        monkeypatch, base, root, lambda: sink()(batch("C", 3), 2),
        crashed, applied,
    )
    assert n_steps == 4


# ---- incremental CC: bucketed layout and the auto migration -------------


def _cc_state(sink):
    return {(r.node, r.comp) for r in sink.state().collect()}


def _cc_full(edges):
    from hyppo_worker_spark.operators.dedup import local_connected_components

    return set(local_connected_components(edges))


def test_cc_bucketed_drill_new_bucket(spark, tmp_path, monkeypatch):
    """Bucketed CC state (one generation per bucket): a batch that
    rewrites an existing bucket and CREATES a new one crashes at every
    step. Until the flip the new bucket is invisible and the state is
    the pre-batch state; the replay applies the batch once; the failed
    attempt's bucket generation is gone after the replay."""
    from hyppo_worker_spark.streaming.incremental_cc import IncrementalCCSink

    base = str(tmp_path / "cc")

    def sink():
        return IncrementalCCSink(spark, base, n_buckets=4)

    def bucket(nodes):
        df = spark.createDataFrame([(n,) for n in nodes], "node long")
        rows = df.select(
            "node", F.pmod(F.xxhash64("node"), F.lit(4)).cast("int")
        ).collect()
        return {n: b for n, b in rows}

    seen = [(1, 2)]
    sink()(spark.createDataFrame(seen, "a_id long, b_id long"), 0)
    seen.append((1, 3))
    sink()(spark.createDataFrame([(1, 3)], "a_id long, b_id long"), 1)
    root = sink().table_dir
    used = set(bucket([1, 2, 3]).values())
    new_node = next(n for n, b in bucket(range(4, 40)).items() if b not in used)
    new_part = f"bucket={bucket([new_node])[new_node]}"
    edge = [(3, new_node)]
    pre = _cc_state(sink())
    want = _cc_full(seen + edge)

    def crashed(flipped):
        parts = {
            os.path.dirname(s) for s in Generations(root).pointer()["segments"]
        }
        assert (new_part in parts) == flipped
        assert _cc_state(sink()) == (want if flipped else pre)

    def applied():
        assert _cc_state(sink()) == want
        assert Generations(root).is_split()

    n_steps = _drill(
        monkeypatch, base, root,
        lambda: sink()(spark.createDataFrame(edge, "a_id long, b_id long"), 2),
        crashed, applied,
    )
    # GC, write, makedirs of the new bucket, one rename per touched
    # bucket, fsync, replace, staging removal
    assert n_steps >= 7


def test_cc_auto_migration_drill(spark, tmp_path, monkeypatch):
    """The whole → bucketed migration is one ordinary commit: a crash at
    any step leaves the flat layout current and readable, and the
    replayed batch migrates exactly once."""
    from hyppo_worker_spark.streaming.incremental_cc import IncrementalCCSink

    base = str(tmp_path / "cc")

    def sink():
        return IncrementalCCSink(
            spark, base, n_buckets="auto", auto_bucket_min_bytes=1
        )

    sink()(spark.createDataFrame([(1, 2)], "a_id long, b_id long"), 0)
    root = sink().table_dir
    assert not Generations(root).is_split()
    pre = _cc_state(sink())
    want = _cc_full([(1, 2), (2, 3)])

    def crashed(flipped):
        assert Generations(root).is_split() == flipped
        assert _cc_state(sink()) == (want if flipped else pre)

    def applied():
        assert Generations(root).is_split()
        assert _cc_state(sink()) == want

    n_steps = _drill(
        monkeypatch, base, root,
        lambda: sink()(spark.createDataFrame([(2, 3)], "a_id long, b_id long"), 1),
        crashed, applied,
    )
    assert n_steps >= 6


def test_cc_empty_flat_table_survives_failed_batch(spark, tmp_path, monkeypatch):
    """An EMPTY whole table written with
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` carries
    neither ``_SUCCESS`` nor data rows, so nothing on disk tells its
    layout; the pointer does. A batch that crashes at any step keeps
    that empty pre-batch table, and the replay applies once."""
    from hyppo_worker_spark.session import scoped_conf
    from hyppo_worker_spark.streaming.incremental_cc import IncrementalCCSink

    base = str(tmp_path / "cc")

    def sink():
        return IncrementalCCSink(spark, base, n_buckets="auto")

    root = sink().table_dir
    with scoped_conf(
        spark, "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    ):
        Generations(root).commit(
            spark.createDataFrame([], "node long, comp long")
        )
    assert not any(
        n == "_SUCCESS" for n in os.listdir(*Generations(root).paths())
    )
    want = _cc_full([(1, 2)])

    def crashed(flipped):
        assert not Generations(root).is_split()
        assert _cc_state(sink()) == (want if flipped else set())

    def applied():
        assert _cc_state(sink()) == want

    n_steps = _drill(
        monkeypatch, base, root,
        lambda: sink()(spark.createDataFrame([(1, 2)], "a_id long, b_id long"), 0),
        crashed, applied,
    )
    assert n_steps == 3  # the write, the pointer fsync + replace


# ---- index zone compaction ---------------------------------------------


def test_zone_compaction_drill(spark, tmp_path, monkeypatch):
    """Compaction writes the zone's next generation and flips the
    pointer: a crash at any step leaves counts and drift readable and
    value-identical, and the rerun compacts (a rerun after the flip
    finds the zone under ``max_files`` and commits nothing)."""
    from hyppo_worker_spark.operators.ivf_index import IvfIndex
    from hyppo_worker_spark.operators.maintenance import dataset_file_stats

    def _corpus(spark, n=60, tag=0):  # two separable clusters
        return spark.createDataFrame(
            [
                (tag * 1000 + i, [float(1 + (i % 2) * 10 + j) for j in range(4)])
                for i in range(n)
            ],
            "vec_id long, embedding array<double>",
        )

    base = str(tmp_path / "ivf")

    def index():
        return IvfIndex(base, n_centroids=4, n_iter=2)

    index().train(_corpus(spark))
    for tag in range(2, 5):
        index().admit(spark, _corpus(spark, n=5, tag=tag))
    root = index().zone.path
    drift = {tuple(r) for r in index().drift_report(spark).collect()}
    n_before = dataset_file_stats(*Generations(root).paths())["n_files"]

    def crashed(flipped):
        assert {tuple(r) for r in index().drift_report(spark).collect()} == drift

    def applied():
        assert {tuple(r) for r in index().drift_report(spark).collect()} == drift
        assert dataset_file_stats(*Generations(root).paths())["n_files"] < n_before

    n_steps = _drill(
        monkeypatch, base, root,
        lambda: index().zone.compact(spark, max_files=2),
        crashed, applied,
    )
    assert n_steps == 3  # the write, the pointer fsync + replace


# ---- appends: index zone, LSH index, dedup sink -------------------------


def _append_drill(monkeypatch, base: str, root: str, run, rows) -> int:
    """Crash one append ``run()`` (no batch id, so not idempotent) at
    every step k, each time from a copy of the pre-append ``base``:
    ``rows()`` reads the pre-append rows until the flip and the
    post-append rows from it on — never a partial append — and after a
    crash before the flip, a retry appends exactly once and leaves none
    of the crashed attempt's files. Returns the number of steps."""
    template = base + ".pre"
    shutil.copytree(base, template)
    pre_seq = Generations(root).pointer()["seq"]
    pre = rows()
    run()
    post = rows()
    assert post != pre
    k = 0
    while True:
        k += 1
        shutil.rmtree(base)
        shutil.copytree(template, base)
        if _run_crashing_at(monkeypatch, root, k, run):
            assert rows() == post
            return k - 1
        if Generations(root).pointer()["seq"] != pre_seq:
            assert rows() == post, f"k={k}"
            continue
        assert rows() == pre, f"k={k}: partial append visible"
        left = {
            f for f in _data_files(root)
            if not any(f.startswith(p + os.sep) for p in Generations(root).paths())
        }
        run()  # the retry
        assert rows() == post, f"k={k}"
        assert not left & _data_files(root), f"k={k}: crash leftovers survived"


def test_zone_append_drill(spark, tmp_path, monkeypatch):
    """An IVF-PQ admission appends one cell-partitioned segment: a
    crash at any step shows the pre-admission zone, never part of the
    batch, and the retry admits it once."""
    from hyppo_worker_spark.operators.ivfpq import IvfPqIndex

    def corpus(n, tag):
        return spark.createDataFrame(
            [
                (tag * 1000 + i, [float((i * 7 + j) % 5 + (i % 3) * 4) for j in range(8)])
                for i in range(n)
            ],
            "vec_id long, embedding array<double>",
        )

    base = str(tmp_path / "pq")

    def index():
        return IvfPqIndex(base, n_cells=3, m=2, k=4, dim=8, n_iter=2)

    index().train(corpus(40, 0))
    root = index().zone.path

    def rows():
        return sorted(map(tuple, index().zone.read(spark).collect()))

    n_steps = _append_drill(
        monkeypatch, base, root,
        lambda: index().admit(spark, corpus(6, 1)), rows,
    )
    assert Generations(root).is_split()  # cells sit above the segments
    assert n_steps >= 4  # the write, a rename per cell, fsync, replace


def _text(prefix: str, n: int = 60, changed: int = 0) -> str:
    words = [f"{prefix}{i:03d}" for i in range(n)]
    for j in range(changed):
        words[10 + 7 * j] = f"chg{prefix}{j}"
    return " ".join(words)


def test_lsh_append_drill(spark, tmp_path, monkeypatch):
    """An LSH admission writes both frames into one segment (banding
    rows lifted into their band_pt dirs): a crash at any step shows
    neither frame's new rows, and the retry admits them once."""
    from hyppo_worker_spark.operators.lsh_index import MinHashLshIndex

    base = str(tmp_path / "lsh")
    docs = spark.createDataFrame(
        [(f"d{i}", _text(f"w{i}")) for i in range(4)],
        "doc_id string, text string",
    )
    idx = MinHashLshIndex(base)
    idx.append(*idx.compute_frames(docs.filter("doc_id < 'd2'"), "doc_id", "text"))
    new = idx.compute_frames(docs.filter("doc_id >= 'd2'"), "doc_id", "text")

    def rows():
        sh, band = MinHashLshIndex(base).load(spark)
        return (
            sorted((r.did, tuple(r.sh)) for r in sh.collect()),
            sorted(map(tuple, band.collect())),
        )

    n_steps = _append_drill(
        monkeypatch, base, base, lambda: MinHashLshIndex(base).append(*new), rows
    )
    assert n_steps >= 7  # 2 writes, renames, rmtree, fsync, replace


def test_dedup_sink_drill_exactly_once(spark, tmp_path, monkeypatch):
    """One dedup admission batch writes its corpus rows, digests and
    both index frames as one segment acked by one flip. A crash at any
    step leaves the pre-batch store; the replay admits the batch
    exactly once (its survivor is not rejected against its own
    half-written index rows) and a second replay commits nothing."""
    from collections import Counter

    from hyppo_worker_spark.streaming.ingest_dedup import DedupIngestSink

    base = str(tmp_path / "dd")

    def sink():
        return DedupIngestSink(spark, base)

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    sink()(batch([("a1", _text("alpha")), ("b1", _text("beta"))]), 0)
    b1 = batch([
        ("a2", _text("alpha", changed=2)),  # near-dup of admitted a1
        ("c1", _text("gamma")),  # the survivor
        ("c9", _text("gamma")),  # exact dup of c1 inside the batch
    ])

    def store():
        s = sink()
        sh, band = s.index.load(spark)
        return (
            sorted(r.doc_id for r in s.corpus().collect()),
            len(s.gens.read(spark, "digests").collect()),
            sorted(r.did for r in sh.collect()),
            sorted(Counter(r.did for r in band.collect()).items()),
        )

    def admitted(ids):
        return (
            ids, len(ids), ids, [(i, 6) for i in ids],  # 6 bands a doc
        )

    pre, post = admitted(["a1", "b1"]), admitted(["a1", "b1", "c1"])
    assert store() == pre

    def crashed(flipped):
        assert store() == (post if flipped else pre)

    def applied():
        assert store() == post
        assert Generations(base).last_batch() == 1

    n_steps = _drill(
        monkeypatch, base, base, lambda: sink()(b1, 1), crashed, applied
    )
    # 4 writes, a rename per frame dir, rmtree, fsync, replace
    assert n_steps >= 10


def test_admission_ledger_drill(spark, tmp_path, monkeypatch):
    """A streaming IVF admission trigger appends its admitted rows and
    its ledger slice as one segment acked with the batch id: a crash at
    any step shows the pre-trigger ledger, the replay folds the batch in
    exactly once, and a replay of an acked trigger is a no-op."""
    from hyppo_worker_spark.operators.index_zone import AdmissionLedger
    from hyppo_worker_spark.operators.ivf_index import IvfIndex

    def corpus(n, tag):
        return spark.createDataFrame(
            [(tag * 1000 + i, [float(1 + (i % 2) * 10 + j) for j in range(4)])
             for i in range(n)],
            "vec_id long, embedding array<double>",
        )

    base = str(tmp_path / "adm")
    idx = IvfIndex(os.path.join(base, "ivf"), n_centroids=4, n_iter=2)
    idx.train(corpus(40, 0))

    def ledger():
        return AdmissionLedger(
            spark, base, idx.zone, lambda b: idx.assign(spark, b), 500
        )

    ledger().admit(corpus(6, 1), 0)
    root = ledger().gens.root

    def cumulative():  # (batch_seq, total admitted so far) per trigger
        got = {}
        for r in ledger().read():
            got[r.batch_seq] = got.get(r.batch_seq, 0) + r.n_admitted_cum
        return sorted(got.items())

    def crashed(flipped):
        assert cumulative() == ([(0, 6), (1, 10)] if flipped else [(0, 6)])

    def applied():
        assert cumulative() == [(0, 6), (1, 10)]

    n_steps = _drill(
        monkeypatch, base, root,
        lambda: ledger().admit(corpus(4, 2), 1), crashed, applied,
    )
    assert n_steps >= 7  # 2 writes, 2 renames, rmtree, fsync, replace
