"""One ``train`` of each persisted vector index stays at its Spark-job
pin: the single commit (stage the model, read it back from the staged
segment, write the base rows beside it, one pointer flip) adds no job
over the earlier overwrite-then-reload form."""

from __future__ import annotations

import pytest

from hyppo_worker_spark.operators.ivf_index import IvfIndex
from hyppo_worker_spark.operators.ivfpq import IvfPqIndex
from hyppo_worker_spark.operators.pq import PqIndex
from hyppo_worker_spark.profile import profile
from hyppo_worker_spark.session import persist_scope

# Measured with the tests' session (local[4], 4 shuffle partitions) on
# the 60-vector corpus below, with the model overwritten in place and
# then reloaded: 27 jobs for IVF, 28 for PQ and 61 for IVF-PQ, which
# also wrote coarse assignments. The one-flip train reads the staged
# model back with its known schema (no inference job) and IVF-PQ keeps
# no assignments: 26, 27 and 50.
TRAIN_JOBS_PIN = {"ivf": 27, "pq": 28, "ivfpq": 61}


def _corpus(spark, dim):
    rows = [
        (
            i,
            [
                float(1 + (i % 2) * 10 + ((i * 7 + j * 3) % 5)) / 10.0
                for j in range(dim)
            ],
        )
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_INDEXES = {  # name -> (handle at the existing test sizes, vector dim)
    "ivf": (lambda p: IvfIndex(p, n_centroids=4, n_iter=2), 8),
    "pq": (lambda p: PqIndex(p, m=4, k=4, dim=16, n_iter=2), 16),
    "ivfpq": (
        lambda p: IvfPqIndex(p, n_cells=4, m=4, k=4, dim=16, n_iter=2), 16
    ),
}


@pytest.mark.parametrize("name", sorted(TRAIN_JOBS_PIN))
def test_train_job_count_at_pin(spark, tmp_path, name):
    make, dim = _INDEXES[name]
    corpus = _corpus(spark, dim)
    with persist_scope():
        _, prof = profile(spark, lambda: make(str(tmp_path / name)).train(corpus))
    assert make(str(tmp_path / name)).exists()
    assert prof["jobs"] <= TRAIN_JOBS_PIN[name]
