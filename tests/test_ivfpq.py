"""IvfPqIndex: the composed persisted ANN layout — coarse cells over
PQ-coded residuals, searched from disk with no training job."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from hyppo_worker_spark.operators.ivfpq import IvfPqIndex


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


def test_train_persists_cell_partitioned_codes(spark, tmp_path):
    idx = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    idx.train(_corpus(spark))
    assert idx.exists()
    cell_dirs = {os.path.dirname(p) for p in idx.zone.paths()}
    assert all(os.path.basename(d).startswith("cell=") for d in cell_dirs)
    assert len(cell_dirs) >= 2  # two separable clusters -> >= 2 lists
    # every vector carries exactly m codes
    rid = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    counts = (
        rid.codes(spark).groupBy("vec_id").count().select("count").distinct()
    ).collect()
    assert [r["count"] for r in counts] == [4]


def test_search_ranks_planted_twin_first(spark, tmp_path):
    """A corpus twin of the query (identical vector, lower id) codes
    identically to the query's residual argmin in every subspace, so
    its ADC distance is the achievable minimum -> rank 1.

    The shared _corpus generator repeats vectors every 10 ids (i mod
    2 x i mod 5), which would plant many twins; perturb by a small
    id-proportional term so the planted twin is the ONLY duplicate."""
    base = spark.createDataFrame(
        [
            (
                i,
                [
                    float(1 + (i % 2) * 10 + ((i * 7 + j * 3) % 5)) / 10.0
                    + i / 1000.0
                    for j in range(16)
                ],
            )
            for i in range(60)
        ],
        "vec_id long, embedding array<double>",
    )
    twin_of = 41
    twin_row = base.filter(F.col("vec_id") == twin_of).select(
        F.lit(7000).cast("long").alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(twin_row)
    idx = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    idx.train(corpus)
    rid = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    q = corpus.filter(F.col("vec_id") == 7000)
    top = rid.search(spark, q, topk=10, nprobe=1).collect()
    assert top[0]["q_id"] == 7000 and top[0]["rank"] == 1
    # the guaranteed invariant: the twin attains the MINIMAL adist
    # (it codes to the query's per-subspace argmin); coarse codebooks
    # may tie other near-twins at the same codes, broken by lowest id
    twin_rows = [r for r in top if r["neighbor_id"] == twin_of]
    assert twin_rows, "exact twin fell out of the top group"
    assert twin_rows[0]["adist_u6"] == top[0]["adist_u6"]


def test_search_plan_prunes_and_never_trains(spark, tmp_path):
    import re

    from hyppo_worker_spark.plans.explain import formatted_plan

    # parquet-backed corpus: a createDataFrame input is itself a Scan
    # ExistingRDD and would false-positive the no-training probe
    _corpus(spark).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    idx = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    idx.train(corpus)
    rid = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    plan = formatted_plan(
        rid.search(spark, corpus.filter(F.col("vec_id") < 2), topk=3)
    )
    assert "ExistingRDD" not in plan
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in p and " IN " in p for p in pf)


def test_compact_codes_keeps_partitioning_and_search(spark, tmp_path):
    """IVF-PQ codes compaction preserves the cell= hive layout (the
    read path's partition pruning keeps working) and search results
    are value-identical on the compacted zone."""
    import re

    from hyppo_worker_spark.operators.maintenance import dataset_file_stats
    from hyppo_worker_spark.plans.explain import formatted_plan

    corpus = _corpus(spark)
    idx = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    idx.train(corpus)
    q = corpus.filter(F.col("vec_id") < 4)
    before = {tuple(r) for r in idx.search(spark, q, topk=3).collect()}
    idx.zone.compact(spark)
    segments = idx.zone.paths()  # cell=<c>/g-<n>, one per cell
    cell_dirs = [
        p for p in segments
        if os.path.basename(os.path.dirname(p)).startswith("cell=")
    ]
    assert cell_dirs, "hive partitioning lost by compaction"
    assert dataset_file_stats(*segments)["n_files"] >= len(cell_dirs)
    after_df = idx.search(spark, q, topk=3)
    after = {tuple(r) for r in after_df.collect()}
    assert after == before
    plan = formatted_plan(idx.search(spark, q, topk=3))
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("cell" in p and " IN " in p for p in pf)


def test_admit_appends_and_subspace_drift_gates(spark, tmp_path):
    """Composed admission (coarse-assign -> residual -> PQ code against
    the persisted artifacts) appends without rewriting; the residual
    per-subspace drift gate stays quiet on a proportional batch and the
    coarse cell gate stays available via .coarse."""
    idx = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    idx.train(_corpus(spark))
    def files():  # the codes zone's live segments
        return {
            p for seg in idx.zone.paths()
            for p in glob.glob(os.path.join(seg, "*.parquet"))
        }

    before_files = files()
    codes = idx.admit(spark, _corpus(spark, n=10, tag=5)).collect()
    assert len(codes) == 10 * 4  # m codes per admitted vector
    after_files = files()
    assert before_files <= after_files and len(after_files) > len(
        before_files
    )
    rep = idx.drift_report(spark).collect()
    assert len(rep) == 4 * 4
    assert all(r.drift_bp is not None for r in rep)
    assert all(not r.retrain_needed for r in rep)  # proportional batch
    admitted_total = sum(r.n_admitted for r in rep)
    assert admitted_total == 10 * 4


def test_admitted_vectors_findable_and_querying(spark, tmp_path):
    """s18's composition claim at operator level: a vector admitted
    AFTER training (append-only, no retrain) is immediately findable —
    a BASE query ranks its admitted exact twin at the minimal adist —
    and the admitted vector can itself QUERY, finding its base twin.
    Read-your-admissions consistency of the persisted layout."""
    base = spark.createDataFrame(
        [
            (
                i,
                [
                    float(1 + (i % 2) * 10 + ((i * 7 + j * 3) % 5)) / 10.0
                    + i / 1000.0
                    for j in range(16)
                ],
            )
            for i in range(60)
        ],
        "vec_id long, embedding array<double>",
    )
    idx = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    idx.train(base)
    # admit an exact twin of base vector 23 under a new id
    twin = base.filter(F.col("vec_id") == 23).select(
        F.lit(9000).cast("long").alias("vec_id"), "embedding"
    )
    idx.admit(spark, twin)

    rid = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    # base -> admitted: query 23 must see 9000 at the minimal adist
    top_b = rid.search(
        spark, base.filter(F.col("vec_id") == 23), topk=10, nprobe=1
    ).collect()
    hit = [r for r in top_b if r["neighbor_id"] == 9000]
    assert hit, "admitted twin not found by its base original"
    assert hit[0]["adist_u6"] == top_b[0]["adist_u6"]
    # admitted -> base: query 9000 must see 23 at the minimal adist
    top_a = rid.search(spark, twin, topk=10, nprobe=1).collect()
    hit = [r for r in top_a if r["neighbor_id"] == 23]
    assert hit, "base twin not found by the admitted query"
    assert hit[0]["adist_u6"] == top_a[0]["adist_u6"]


def test_filtered_search_pre_filter_semantics(spark, tmp_path):
    """search(allowed=) must be exact top-k over the qualifying
    subset: every neighbor qualifies, and allowing EVERYTHING returns
    the unfiltered results unchanged (the filter is a restriction,
    not a rescoring)."""
    corpus = _corpus(spark)
    idx = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    idx.train(corpus)
    rid = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=4, m=4, k=4, dim=16, n_iter=2
    )
    q = corpus.filter(F.col("vec_id") < 3)
    allowed_all = corpus.select("vec_id")
    same = rid.search(spark, q, topk=5, allowed=allowed_all).collect()
    base = rid.search(spark, q, topk=5).collect()
    assert sorted(map(tuple, same)) == sorted(map(tuple, base))

    allowed_even = corpus.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id"
    )
    got = rid.search(spark, q, topk=5, allowed=allowed_even).collect()
    assert got and all(r["neighbor_id"] % 2 == 0 for r in got)


def test_coarse_gate_counts_each_admitted_vector_once(spark, tmp_path):
    """The coarse per-cell gate counts the codes' ``cell`` column, one
    row per vector (its m = 0 code row): 30 copies of one vector
    admitted into its cell show as 30 admissions there, n_base is the
    base vectors per cell (not m times that), and the gate fires."""
    rows = [
        (i, [float((i * 7 + j) % 5 + (i % 3) * 4) for j in range(8)])
        for i in range(40)
    ]
    schema = "vec_id long, embedding array<double>"
    idx = IvfPqIndex(
        str(tmp_path / "pq"), n_cells=3, m=2, k=4, dim=8, n_iter=2
    )
    idx.train(spark.createDataFrame(rows, schema))
    idx.admit(
        spark,
        spark.createDataFrame([(5000 + i, rows[0][1]) for i in range(30)], schema),
    )
    base = {}
    for r in (
        idx.codes(spark).filter(~F.col("admitted"))
        .select("vec_id", "cell").distinct().collect()
    ):
        base[r.cell] = base.get(r.cell, 0) + 1
    (hot,) = {
        r.cell for r in idx.codes(spark).filter(F.col("vec_id") >= 5000).collect()
    }
    rep = {r.cell: r for r in idx.coarse.drift_report(spark).collect()}
    assert sum(base.values()) == 40 and len(rep) == 3
    assert {c: r.n_base for c, r in rep.items()} == {
        c: base.get(c, 0) for c in rep
    }
    assert {c: r.n_admitted for c, r in rep.items()} == {
        c: 30 if c == hot else 0 for c in rep
    }
    assert all(r.retrain_needed for r in rep.values())
