"""Persisted IVF (inverted-file) vector index with incremental
admission — the embedding-side twin of ``MinHashLshIndex``.

The batch operators (``operators/similarity.py``) retrain the coarse
quantizer on every query; a production embedding corpus cannot — at
100 TB the k-means training pass is a multi-hour job, while new
embedding batches arrive continuously. This index stores the two
frames an IVF probe actually needs:

- ``centroids/``   : (cent_id, cent array<double>) — the trained
  coarse quantizer, written once per (re)train;
- ``assignments/`` : (vec_id, cell, admitted) — each vector's cell,
  appended per admission (object-store friendly: nothing existing is
  rewritten).

Admitting a batch assigns it against the PERSISTED centroids (one
broadcast of the tiny centroid frame; the corpus never reshuffles)
and appends the batch's rows to the admitted zone. Retraining is
decided by the per-cell population DRIFT GATE over that zone; the
zone, the gate and the streaming-admission ledger are the persisted-
index core shared with the PQ indexes (``operators/index_zone.py``).

Scale: admission cost is O(batch × k) with a broadcast join —
independent of corpus size; the drift gate reads only the per-cell
counts (k rows). Retraining remains the only corpus-sized job, and
the gate is what keeps it off the critical path. Reference analog:
the reference maintains no vector index (it has no relational
operators at all — SURVEY §2.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hyppo_worker_spark.functions import vectors as V
from hyppo_worker_spark.operators.index_zone import AdmittedZone
from hyppo_worker_spark.operators.similarity import kmeans_centroids


class IvfIndex:
    """Filesystem-backed IVF index: train once, admit incrementally,
    retrain only when the population-drift gate fires."""

    def __init__(
        self,
        path: str,
        *,
        n_centroids: int = 8,
        n_iter: int = 2,
        drift_threshold_bp: int = 500,
    ) -> None:
        self.path = path
        self.n_centroids = n_centroids
        self.n_iter = n_iter
        self.drift_threshold_bp = drift_threshold_bp
        self._cents_dir = os.path.join(path, "centroids")
        self.zone = AdmittedZone(
            os.path.join(path, "assignments"),
            ("cell",),
            lambda spark: self.centroids(spark).select(
                F.col("cent_id").alias("cell")
            ),
            n_centroids,
        )

    def exists(self) -> bool:
        return os.path.isdir(self._cents_dir)

    # -- training ------------------------------------------------------

    def train(
        self, corpus: DataFrame, id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Train the coarse quantizer on ``corpus`` and persist both
        the centroids and the corpus assignments. Assignments are
        computed against the RELOADED centroids so the persisted
        state — not the in-memory lineage — is authoritative (the
        parquet double roundtrip is bit-exact, but making the read
        path the source of truth is what lets a later session admit
        batches without retraining)."""
        spark = corpus.sparkSession
        cents = kmeans_centroids(
            corpus, id_col=id_col, vec_col=vec_col,
            n_centroids=self.n_centroids, n_iter=self.n_iter,
        )
        cents.write.mode("overwrite").parquet(self._cents_dir)
        self.zone.write_base(self.assign(spark, corpus, id_col, vec_col))

    def centroids(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._cents_dir)

    def assignments(self, spark: SparkSession) -> DataFrame:
        return self.zone.read(spark)

    # -- admission -----------------------------------------------------

    def assign(
        self, spark: SparkSession, batch: DataFrame,
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> DataFrame:
        """(vec_id, cell) for ``batch`` against the PERSISTED
        centroids: :meth:`probe_cells` at nprobe=1, so an admitted
        vector lands exactly where a full retrain's final assignment
        pass would put it when the centroids agree. One batch scan,
        no corpus shuffle."""
        return self.probe_cells(spark, batch, id_col, vec_col).select(
            F.col("q_id").alias("vec_id"), "cell"
        )

    def admit(
        self, spark: SparkSession, batch: DataFrame,
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> DataFrame:
        """Assign ``batch`` against the persisted quantizer and append
        its (vec_id, cell, admitted=true) rows — no retrain, nothing
        existing rewritten."""
        return self.zone.append(self.assign(spark, batch, id_col, vec_col))

    def drift_report(self, spark: SparkSession) -> DataFrame:
        """(cell, n_base, n_admitted, drift_bp, retrain_needed) from
        the persisted index — the maintenance decision as data."""
        return self.zone.drift_report(spark, self.drift_threshold_bp)

    # -- read path (query the persisted index) ---------------------------

    def export_cells(
        self, spark: SparkSession, corpus: DataFrame,
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> None:
        """Write the inverted lists: ``cells/`` parquet PARTITIONED BY
        cell, each row (vec_id, v, vnorm). This is the production ANN
        layout (FAISS inverted lists; one directory per cell): a
        nprobe=p query then reads p/k of the corpus via PARTITION
        PRUNING instead of scanning everything — the property that
        makes IVF pay at 100 TB, visible in the plan's
        PartitionFilters. vnorm is precomputed once at build time so
        the query-time cosine is a single dot product per candidate."""
        asg = self.assignments(spark).select("vec_id", "cell")
        vecs = corpus.select(
            F.col(id_col).alias("vec_id"),
            V.as_double(F.col(vec_col)).alias("v"),
        ).withColumn("vnorm", V.norm(F.col("v")))
        asg.join(vecs, "vec_id").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(os.path.join(self.path, "cells"))

    def cells(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, "cells"))

    def probe_cells(
        self, spark: SparkSession, queries: DataFrame,
        id_col: str = "vec_id", vec_col: str = "embedding",
        *, nprobe: int = 1,
    ) -> DataFrame:
        """(q_id, qv, qnorm, cell) — each query's ``nprobe`` nearest
        PERSISTED centroids (cosine desc, cent_id tie-break: the Lloyd
        assignment rule, so nprobe=1 equals the cell a retrain's final
        pass would choose). Cost: one broadcast of k rows against the
        query batch — no training job anywhere in the lineage."""
        cn = self.centroids(spark).withColumn(
            "cent_norm", V.norm(F.col("cent"))
        )
        v = queries.select(
            F.col(id_col).alias("q_id"),
            V.as_double(F.col(vec_col)).alias("qv"),
        ).withColumn("qnorm", V.norm(F.col("qv")))
        scored = v.join(F.broadcast(cn)).withColumn(
            "__sim",
            V.dot(F.col("qv"), F.col("cent"))
            / (F.col("qnorm") * F.col("cent_norm")),
        )
        w = W.partitionBy("q_id").orderBy(F.col("__sim").desc(), "cent_id")
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= nprobe)
            .select("q_id", "qv", "qnorm", F.col("cent_id").alias("cell"))
        )

    def search(
        self, spark: SparkSession, queries: DataFrame,
        id_col: str = "vec_id", vec_col: str = "embedding",
        *, k: int = 5, nprobe: int = 1, round_to: int = 6,
    ) -> DataFrame:
        """Top-k cosine neighbors from the PERSISTED index — the read
        path the index exists for: NO Lloyd iteration, no corpus-wide
        assignment; the probed cell list (≤ |queries|·nprobe ints, a
        bounded pull) becomes a LITERAL partition filter on ``cells/``
        so the scan reads only the probed inverted lists (partition
        pruning — assert via plans.explain). Values are identical to
        ``similarity.knn_ivf`` at the same (n_centroids, n_iter):
        parquet double round-trips are bit-exact and the assignment
        tie-breaks match."""
        q = self.probe_cells(
            spark, queries, id_col, vec_col, nprobe=nprobe
        )
        probed = sorted(
            {r["cell"] for r in q.select("cell").distinct().collect()}
        )  # bounded pull: ≤ n_queries·nprobe ints
        cand = self.cells(spark).filter(F.col("cell").isin(probed))
        cos = F.round(
            V.dot(F.col("qv"), F.col("v"))
            / (F.col("qnorm") * F.col("vnorm")),
            round_to,
        )
        scored = (
            cand.join(F.broadcast(q), "cell")
            .filter(F.col("q_id") != F.col("vec_id"))
            .withColumn("cos_sim", cos)
        )
        w = W.partitionBy("q_id").orderBy(
            F.col("cos_sim").desc(), "vec_id"
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "q_id",
                F.col("vec_id").alias("neighbor_id"),
                "cos_sim",
                "rank",
            )
        )
