"""IvfIndex: persisted coarse quantizer + incremental admission with
the integer basis-point drift gate (the embedding twin of
MinHashLshIndex's admit-without-rehash contract)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from hyppo_worker_spark.operators.index_zone import (
    drift_bp,
    drift_bp_int,
    fold_ledger,
)
from hyppo_worker_spark.operators.ivf_index import IvfIndex


def _corpus(spark, n=60, dim=8, tag=0):
    """Deterministic unit-free vectors: v[i] = f(vec_id, i) — two
    separable clusters (even ids point one way, odd the other) so the
    trained cells are stable."""
    rows = [
        (
            tag * 1000 + i,
            [
                float(1 + (i % 2) * 10 + ((i * 7 + j * 3) % 5)) / 10.0
                for j in range(dim)
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_train_persists_and_reload_assigns_like_retrain(spark, tmp_path):
    idx = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    corpus = _corpus(spark)
    idx.train(corpus)
    assert idx.exists()
    # persisted assignments == a fresh assignment of the corpus
    # against the RELOADED centroids (the read path is authoritative)
    persisted = {
        (r.vec_id, r.cell)
        for r in idx.assignments(spark).filter(~F.col("admitted")).collect()
    }
    fresh = {
        (r.vec_id, r.cell) for r in idx.assign(spark, corpus).collect()
    }
    assert persisted == fresh
    assert len(persisted) == 60


def test_admit_appends_without_rewriting(spark, tmp_path):
    idx = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    idx.train(_corpus(spark))
    asg_dir = str(tmp_path / "ivf" / "assignments")
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(asg_dir, "*.parquet"))
    }
    idx.admit(spark, _corpus(spark, n=10, tag=5))
    after = set(glob.glob(os.path.join(asg_dir, "*.parquet")))
    # append-only: every pre-admission file survives untouched
    for p, mt in before.items():
        assert p in after and os.path.getmtime(p) == mt
    assert len(after) > len(before)
    admitted = idx.assignments(spark).filter(F.col("admitted"))
    assert admitted.count() == 10


def test_drift_gate_quiet_on_proportional_batch(spark, tmp_path):
    idx = IvfIndex(
        str(tmp_path / "ivf"), n_centroids=4, n_iter=2,
        drift_threshold_bp=500,
    )
    idx.train(_corpus(spark))
    # a batch drawn from the same generator keeps the cell shares:
    # same even/odd cluster mix, so the gate must stay quiet
    idx.admit(spark, _corpus(spark, n=20, tag=7))
    rep = idx.drift_report(spark).collect()
    assert len(rep) == 4
    assert all(not r.retrain_needed for r in rep)
    assert all(r.drift_bp == rep[0].drift_bp for r in rep)  # global stat


def test_drift_gate_fires_on_planted_shift(spark, tmp_path):
    idx = IvfIndex(
        str(tmp_path / "ivf"), n_centroids=4, n_iter=2,
        drift_threshold_bp=500,
    )
    idx.train(_corpus(spark))
    # plant every admitted vector on the cell-0 centroid: all admitted
    # mass in one cell — corpus-sized batch, so shares shift hard
    c0 = (
        idx.centroids(spark)
        .filter(F.col("cent_id") == 0)
        .collect()[0]["cent"]
    )
    planted = spark.createDataFrame(
        [(9000 + i, list(c0)) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    idx.admit(spark, planted)
    rep = idx.drift_report(spark).collect()
    assert all(r.retrain_needed for r in rep)
    # and the planted cell holds every admitted row
    by_cell = {r.cell: r.n_admitted for r in rep}
    assert by_cell[0] == 60 and sum(by_cell.values()) == 60


def test_drift_is_integer_and_partition_invariant(spark, tmp_path):
    from hyppo_worker_spark.operators.pq import PqIndex

    idx = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    idx.train(_corpus(spark))
    idx.admit(spark, _corpus(spark, n=20, tag=3))
    # grouped input: a PQ zone, drift per subspace ("m",)
    pq = PqIndex(str(tmp_path / "pq"), m=2, k=4, dim=8, n_iter=2)
    pq.train(_corpus(spark))
    pq.admit(spark, _corpus(spark, n=20, tag=3))
    for ix in (idx, pq):
        keys = list(ix.zone.keys)
        a = ix.drift_report(spark).orderBy(*keys).collect()
        b = (
            drift_bp(ix.zone.counts(spark).repartition(13), ix.zone.by)
            .orderBy(*keys)
            .collect()
        )
        assert [r.drift_bp for r in a] == [r.drift_bp for r in b]
        assert all(isinstance(r.drift_bp, int) for r in a)


def test_untrained_index_does_not_exist(spark, tmp_path):
    idx = IvfIndex(str(tmp_path / "nope"))
    assert not idx.exists()
    with pytest.raises(Exception):
        idx.centroids(spark).collect()


def test_fold_matches_cumulative_recompute_and_replay(spark, tmp_path):
    """The incremental drift-gate fold (prev ledger + current batch,
    O(batch + k)) is value-identical to the cumulative recompute over
    all admitted batches, and replaying a batch against the same
    previous ledger yields identical rows (VERDICT r11 item 2)."""
    idx = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    idx.train(_corpus(spark))
    base = {(r.cell,): r.n_base for r in idx.zone.counts(spark).collect()}

    prev = {}
    ledgers = []
    for seq, tag in enumerate((3, 5, 7)):
        batch = _corpus(spark, n=10 + 4 * seq, tag=tag)
        cur = {
            (r.cell,): r["count"]
            for r in idx.assign(spark, batch).groupBy("cell").count().collect()
        }
        folded = fold_ledger(base, prev, cur, n_by=0, grid_size=4)
        # cumulative recompute: admit for real and read the full zone
        idx.admit(spark, batch)
        cum = {
            (r.cell, r.n_base, r.n_admitted, r.drift_bp)
            for r in idx.drift_report(spark).collect()
        }
        assert set(folded) == cum, f"fold != cumulative at batch {seq}"
        # replay: same prev + same batch -> identical rows
        assert fold_ledger(base, prev, cur, n_by=0, grid_size=4) == folded
        ledgers.append(folded)
        prev = {(c,): n_adm for c, _, n_adm, _ in folded}
    assert len(ledgers) == 3


def test_driver_folds_reject_keys_beyond_trained_grid():
    """The driver-side folds are bounded by the trained grid (k cells,
    or m·k codes): an oversize key list raises instead of folding."""
    base = {(c,): 1 for c in range(5)}
    with pytest.raises(AssertionError):
        fold_ledger(base, {}, {}, n_by=0, grid_size=4)
    with pytest.raises(AssertionError):
        fold_ledger(dict(list(base.items())[:4]), {}, {(7,): 1},
                    n_by=0, grid_size=4)
    with pytest.raises(AssertionError):
        drift_bp_int([(1, 0)] * 5, grid_size=4)


def test_zero_base_drift_gate_fires_not_null(spark):
    """An index whose base counts are all zero (trained on an empty
    corpus, or counts wiped) must FIRE the drift gate, not return
    NULL drift_bp / NULL retrain_needed (ADVICE r11) — ungrouped (IVF
    cells) and grouped per subspace (PQ codes)."""
    counts = spark.createDataFrame(
        [(0, 0, 5), (1, 0, 0), (2, 0, 3), (3, 0, 0)],
        "cell long, n_base long, n_admitted long",
    )
    grouped = spark.createDataFrame(
        [(m, c, 0, m + c) for m in range(2) for c in range(4)],
        "m long, code long, n_base long, n_admitted long",
    )
    gated = IvfIndex(
        "/nonexistent", drift_threshold_bp=500
    )
    for frame, by in ((counts, ()), (grouped, ("m",))):
        rep = drift_bp(frame, by).collect()
        assert all(r.drift_bp is not None for r in rep)
        assert all(r.drift_bp == 4 * 10000 for r in rep)  # maximal per key
        out = (
            drift_bp(frame, by)
            .withColumn(
                "retrain_needed",
                F.col("drift_bp") > F.lit(gated.drift_threshold_bp),
            )
            .collect()
        )
        assert all(r.retrain_needed is True for r in out)


def test_persisted_search_matches_in_query_ivf(spark, tmp_path):
    """The read path (persisted centroids + partitioned inverted
    lists, no training job) returns value-identical results to
    similarity.knn_ivf at the same (n_centroids, n_iter) — parquet
    double round-trips are bit-exact and tie-breaks match — for both
    nprobe=1 and nprobe=2."""
    from hyppo_worker_spark.operators import similarity as S

    corpus = _corpus(spark)
    idx = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    idx.train(corpus)
    idx.export_cells(spark, corpus)
    rid = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    queries = corpus.filter(F.col("vec_id") < 6)
    for nprobe in (1, 2):
        got = {
            tuple(r)
            for r in rid.search(
                spark, queries, k=3, nprobe=nprobe
            ).collect()
        }
        ref = {
            tuple(r)
            for r in S.knn_ivf(
                corpus, queries, k=3, n_centroids=4, n_iter=2,
                nprobe=nprobe,
            ).collect()
        }
        assert got == ref and len(got) == 18


def test_persisted_search_plan_prunes_and_never_trains(spark, tmp_path):
    """The search plan reads only the probed cell partitions (literal
    PartitionFilters) and contains no Lloyd artifact (ExistingRDD)."""
    import re

    from hyppo_worker_spark.plans.explain import formatted_plan

    # parquet-backed corpus: a createDataFrame input is itself a Scan
    # ExistingRDD and would false-positive the no-training probe
    _corpus(spark).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    idx = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    idx.train(corpus)
    idx.export_cells(spark, corpus)
    rid = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    plan = formatted_plan(
        rid.search(spark, corpus.filter(F.col("vec_id") < 2), k=3)
    )
    assert "ExistingRDD" not in plan
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in p and " IN " in p for p in pf)


def test_compact_assignments_preserves_counts_and_drift(spark, tmp_path):
    """Index-zone compaction (VERDICT r11 item 8): many small
    admission batches fragment assignments/; compaction cuts the file
    count while cell counts and the drift gate stay value-identical,
    and the below-threshold call is a no-op."""
    from hyppo_worker_spark.operators.maintenance import dataset_file_stats

    idx = IvfIndex(str(tmp_path / "ivf"), n_centroids=4, n_iter=2)
    idx.train(_corpus(spark))
    for tag in range(2, 10):
        idx.admit(spark, _corpus(spark, n=5, tag=tag))
    asg_dir = str(tmp_path / "ivf" / "assignments")
    before_files = dataset_file_stats(asg_dir)["n_files"]
    before = {
        tuple(r) for r in idx.drift_report(spark).collect()
    }
    # below-threshold: no-op
    assert idx.zone.compact(spark, max_files=10_000) is None
    assert dataset_file_stats(asg_dir)["n_files"] == before_files
    stats = idx.zone.compact(spark, max_files=4)
    after_files = dataset_file_stats(asg_dir)["n_files"]
    assert stats is not None and after_files < before_files
    after = {tuple(r) for r in idx.drift_report(spark).collect()}
    assert after == before


def test_drift_bp_int_matches_catalyst_form(spark):
    """The driver-side integer fold (drift_bp_int — the streaming-
    ledger path in s13/s17) must equal drift_bp on the same counts,
    including the zero-base guard and exact floor-div tie values,
    ungrouped and grouped per subspace."""
    cases = [
        [(10, 0), (10, 0), (10, 0)],            # no admission: 0 drift
        [(7, 5), (3, 0), (90, 1), (0, 44)],     # uneven shift
        [(0, 5), (0, 0), (0, 3), (0, 0)],       # zero base: guard fires
        [(1, 0), (1, 1), (1, 2), (1, 3)],       # floor-div boundaries
        [(10**12, 3), (5, 10**12)],             # int64-scale counts
    ]
    for pairs in cases:
        frame = spark.createDataFrame(
            [(i, nb, na) for i, (nb, na) in enumerate(pairs)],
            "cell long, n_base long, n_admitted long",
        )
        col_val = drift_bp(frame).collect()[0]["drift_bp"]
        assert drift_bp_int(pairs, len(pairs)) == int(col_val), pairs
    # grouped ("m",): every case above is one subspace of a single frame
    grouped = spark.createDataFrame(
        [
            (m, c, nb, na)
            for m, pairs in enumerate(cases)
            for c, (nb, na) in enumerate(pairs)
        ],
        "m long, code long, n_base long, n_admitted long",
    )
    by_m = {
        r["m"]: r["drift_bp"]
        for r in drift_bp(grouped, ("m",)).collect()
    }
    assert by_m == {
        m: drift_bp_int(pairs, 4) for m, pairs in enumerate(cases)
    }
