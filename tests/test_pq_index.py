"""PqIndex: persisted PQ codebooks + incremental admission with the
per-subspace basis-point drift gate (the codes-side twin of
IvfIndex)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from hyppo_worker_spark.operators.pq import PqIndex


def _corpus(spark, n=60, dim=16, tag=0):
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


def test_train_persists_and_encode_matches_retrain_pass(spark, tmp_path):
    idx = PqIndex(str(tmp_path / "pq"), m=4, k=4, dim=16, n_iter=2)
    corpus = _corpus(spark)
    idx.train(corpus)
    assert idx.exists()
    persisted = {
        (r.vec_id, r.m, r.code)
        for r in idx.codes(spark).filter(~F.col("admitted")).collect()
    }
    fresh = {
        (r.vec_id, r.m, r.code)
        for r in idx.encode(spark, corpus).collect()
    }
    assert persisted == fresh
    assert len(persisted) == 60 * 4  # one code per (vector, subspace)


def test_admit_appends_without_rewriting(spark, tmp_path):
    idx = PqIndex(str(tmp_path / "pq"), m=4, k=4, dim=16, n_iter=2)
    idx.train(_corpus(spark))
    def files():  # the zone's live segments (an admission adds one)
        return {
            p for seg in idx.zone.gens.paths()
            for p in glob.glob(os.path.join(seg, "*.parquet"))
        }

    before = {p: os.path.getmtime(p) for p in files()}
    idx.admit(spark, _corpus(spark, n=10, tag=5))
    after = files()
    for p, mt in before.items():
        assert p in after and os.path.getmtime(p) == mt
    assert idx.codes(spark).filter(F.col("admitted")).count() == 10 * 4


def test_subspace_drift_gate_quiet_then_fires(spark, tmp_path):
    idx = PqIndex(
        str(tmp_path / "pq"), m=4, k=4, dim=16, n_iter=2,
        drift_threshold_bp=500,
    )
    idx.train(_corpus(spark))
    # proportional batch: same generator mix → every subspace quiet
    idx.admit(spark, _corpus(spark, n=20, tag=7))
    rep = idx.drift_report(spark).collect()
    assert len(rep) == 4 * 4  # (m, code) grid, empty cells included
    assert all(not r.retrain_needed for r in rep)
    # drift is constant within a subspace group
    by_m = {}
    for r in rep:
        by_m.setdefault(r.m, set()).add(r.drift_bp)
    assert all(len(v) == 1 for v in by_m.values())
    # planted: every vector = concat of each subspace's cell-0
    # centroid → all codes 0 → every subspace's gate fires
    books = {
        (r["m"], r["cent_id"]): r["cent"]
        for r in idx.codebooks(spark).collect()
    }
    flat = [x for mi in range(4) for x in books[(mi, 0)]]
    idx.admit(
        spark,
        spark.createDataFrame(
            [(9000 + i, flat) for i in range(120)],
            "vec_id long, embedding array<double>",
        ),
    )
    rep2 = idx.drift_report(spark).collect()
    assert all(r.retrain_needed for r in rep2)
    zero_cells = [r for r in rep2 if r.code == 0]
    assert all(r.n_admitted >= 120 for r in zero_cells)


def test_zero_base_subspace_gate_fires_not_null(spark, tmp_path):
    """A subspace whose base population is zero (codes zone wiped to
    admitted-only rows) must FIRE its gate, not go NULL (ADVICE r11)."""
    from pyspark.sql import functions as F

    idx = PqIndex(
        str(tmp_path / "pq"), m=4, k=4, dim=16, n_iter=2,
        drift_threshold_bp=500,
    )
    idx.train(_corpus(spark))
    # rewrite the codes zone as admitted-only: n_base = 0 per subspace
    codes = idx.codes(spark).withColumn(
        "admitted", F.lit(True)
    ).collect()
    idx.zone.gens.commit(spark.createDataFrame(
        codes, "vec_id long, m int, code int, admitted boolean"
    ))
    rep = idx.drift_report(spark).collect()
    assert all(r.drift_bp is not None for r in rep)
    assert all(r.retrain_needed is True for r in rep)


def test_compact_codes_preserves_subspace_drift(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F401

    from hyppo_worker_spark.operators.maintenance import dataset_file_stats

    idx = PqIndex(
        str(tmp_path / "pq"), m=4, k=4, dim=16, n_iter=2,
        drift_threshold_bp=500,
    )
    idx.train(_corpus(spark))
    for tag in range(2, 8):
        idx.admit(spark, _corpus(spark, n=5, tag=tag))
    def n_files():  # the zone's live segments
        return dataset_file_stats(*idx.zone.gens.paths())["n_files"]

    before_files = n_files()
    before = {tuple(r) for r in idx.drift_report(spark).collect()}
    stats = idx.zone.compact(spark, max_files=4)
    assert stats is not None
    assert n_files() < before_files
    after = {tuple(r) for r in idx.drift_report(spark).collect()}
    assert after == before
