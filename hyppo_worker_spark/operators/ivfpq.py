"""IVF-PQ: the composed persisted ANN layout (FAISS IVFPQ; Jégou,
Douze & Schmid 2011) — coarse inverted-file cells over PQ-coded
RESIDUALS.

``IvfIndex`` (coarse cells) and ``PqIndex`` (codes) exist separately;
the production layout composes them: each vector is stored as its
cell id plus the PQ codes of its RESIDUAL (v − centroid[cell]).
Residual coding is why the composition beats either part alone — the
residual distribution is re-centered at the origin per cell, so the
shared codebooks spend their k codes per subspace on a far tighter
cloud than the raw vectors, cutting quantization error at the same
bit budget.

Spark-first layout, reusing the persisted-index machinery as-is:

- ``coarse/``    : an ``IvfIndex`` (centroids + assignments);
- ``codebooks/`` : shared per-subspace residual codebooks (m×k rows);
- ``codes/``     : (vec_id, m, code, admitted) PARTITIONED BY cell —
  an append-only admitted zone; the inverted lists hold CODES, not
  vectors (the point of PQ), and a nprobe=p query reads p/k of the
  codes via partition pruning.

Search is coarse probe → per-(query, cell) residual ADC lookup table
(m×k rows per query, broadcast) → table-lookup sum over the probed
cells' codes. All contributions are pre-scaled integers
(floor(sqdist·1e6)), so the ranking is bit-identical across engines
and partitionings. No step of the read path trains anything: the
probe is a broadcast of the persisted centroids and the ADC join is
against the persisted codebooks.

At 100 TB: the codes table is ~m bytes/vector (the only thing
scanned at query time), training remains the only corpus-sized job,
and both halves carry a drift gate for retrain scheduling
(``coarse.drift_report`` per cell, ``drift_report`` per residual
subspace — the admitted-zone core in ``operators/index_zone.py``).
Reference analog: the reference maintains no vector index (no
relational operators at all — SURVEY §2.4); the persisted-artifact
reuse mirrors its warm-executor affinity (WorkerFSM.scala:161-199).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hyppo_worker_spark.functions import vectors as V
from hyppo_worker_spark.operators.ivf_index import IvfIndex
from hyppo_worker_spark.operators.pq import (
    ADC_SCALE,
    code_zone,
    pq_codebooks,
    pq_encode,
)


class IvfPqIndex:
    """Filesystem-backed IVF-PQ index: coarse cells + shared residual
    codebooks + cell-partitioned codes; train once, search from the
    persisted artifacts with no training job in the query lineage."""

    def __init__(
        self,
        path: str,
        *,
        n_cells: int = 8,
        m: int = 8,
        k: int = 8,
        dim: int = 64,
        n_iter: int = 2,
    ) -> None:
        self.path = path
        self.n_cells = n_cells
        self.m = m
        self.k = k
        self.dim = dim
        self.n_iter = n_iter
        self.coarse = IvfIndex(
            os.path.join(path, "coarse"),
            n_centroids=n_cells,
            n_iter=n_iter,
        )
        self._books_dir = os.path.join(path, "codebooks")
        self.zone = code_zone(
            os.path.join(path, "codes"), self.codebooks, m * k,
            partition_by=["cell"],
        )

    def exists(self) -> bool:
        return self.coarse.exists() and os.path.isdir(self._books_dir)

    # -- training --------------------------------------------------------

    def _residuals(
        self, spark: SparkSession, batch: DataFrame, asg: DataFrame,
        id_col: str, vec_col: str,
    ) -> DataFrame:
        """(vec_id, cell, rv = v − centroid[cell]) for ``batch`` given
        its (vec_id, cell) assignment against the PERSISTED coarse
        quantizer — elementwise zip_with subtraction, bit-exact
        mirrored by the oracle's list_transform."""
        v = batch.select(
            F.col(id_col).alias("vec_id"),
            V.as_double(F.col(vec_col)).alias("v"),
        )
        return (
            v.join(asg, "vec_id")
            .join(
                F.broadcast(self.coarse.centroids(spark)),
                F.col("cell") == F.col("cent_id"),
            )
            .select(
                "vec_id",
                "cell",
                F.zip_with("v", "cent", lambda a, b: a - b).alias("rv"),
            )
        )

    def _encode_residuals(
        self, spark: SparkSession, resid: DataFrame
    ) -> DataFrame:
        """(vec_id, m, code, cell): PQ-encode residuals against the
        PERSISTED codebooks (one broadcast of m·k rows)."""
        codes = pq_encode(
            resid, self.codebooks(spark), "vec_id", "rv",
            m=self.m, dim=self.dim,
        ).withColumnRenamed("__id", "vec_id")
        return codes.join(resid.select("vec_id", "cell"), "vec_id")

    def train(
        self, corpus: DataFrame, id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Train coarse cells, then shared codebooks on the RESIDUALS,
        then persist each vector's codes partitioned by cell. Like
        IvfIndex/PqIndex, every persisted artifact is re-read before
        dependent computation so the disk state is authoritative."""
        spark = corpus.sparkSession
        self.coarse.train(corpus, id_col, vec_col)
        # The residual frame feeds every remaining training step —
        # n_iter Lloyd rounds, the encode pass, and the cell join —
        # and each of those is an action that would otherwise replay
        # the corpus⋈assignments⋈centroids join from scratch (guide
        # §5: persist what is reused AND expensive to recompute). The
        # frame is narrow (id, cell, rv).
        from hyppo_worker_spark.session import tracked_persist

        resid = tracked_persist(
            self._residuals(
                spark, corpus,
                self.coarse.assignments(spark).select("vec_id", "cell"),
                id_col, vec_col,
            )
        )
        books = pq_codebooks(
            resid, "vec_id", "rv",
            m=self.m, k=self.k, dim=self.dim, n_iter=self.n_iter,
        )
        books.write.mode("overwrite").parquet(self._books_dir)
        self.zone.write_base(self._encode_residuals(spark, resid))

    def codebooks(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._books_dir)

    def codes(self, spark: SparkSession) -> DataFrame:
        return self.zone.read(spark)

    # -- incremental admission ----------------------------------------------

    def encode_batch(
        self, spark: SparkSession, batch: DataFrame,
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> DataFrame:
        """(vec_id, m, code, cell) for a NEW batch against the
        PERSISTED artifacts — the composed admission step: coarse
        assignment (one broadcast of k centroid rows), residual vs the
        assigned centroid, PQ encode against the persisted codebooks
        (one broadcast of m·k rows). O(batch·(k + m·k)), independent
        of corpus size; no training anywhere."""
        asg = self.coarse.assign(spark, batch, id_col, vec_col)
        return self._encode_residuals(
            spark, self._residuals(spark, batch, asg, id_col, vec_col)
        )

    def admit(
        self, spark: SparkSession, batch: DataFrame,
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> DataFrame:
        """Encode ``batch`` against the persisted index and append its
        (vec_id, cell, m, code, admitted=true) rows — append-only,
        nothing existing rewritten."""
        return self.zone.append(
            self.encode_batch(spark, batch, id_col, vec_col)
        )

    def drift_report(
        self, spark: SparkSession, *, drift_threshold_bp: int = 500
    ) -> DataFrame:
        """(m, code, n_base, n_admitted, drift_bp, retrain_needed) per
        RESIDUAL subspace over the persisted codes — a fired gate
        names which residual codebooks to retrain; the coarse side
        keeps its own cell-population gate via
        ``self.coarse.drift_report``."""
        return self.zone.drift_report(spark, drift_threshold_bp)

    # -- read path ---------------------------------------------------------

    def search(
        self, spark: SparkSession, queries: DataFrame,
        id_col: str = "vec_id", vec_col: str = "embedding",
        *, topk: int = 5, nprobe: int = 1,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """ADC top-k over the probed cells' PERSISTED codes:
        (q_id, neighbor_id, adist_u6, rank) by ascending integer-scaled
        approximate squared distance (ties → lowest id), self-matches
        excluded. The probed cell list (≤ |queries|·nprobe ints,
        bounded pull) becomes a literal partition filter on codes/ —
        the scan reads only the probed inverted lists. Nothing in this
        lineage trains: centroids and codebooks are parquet reads.

        ``allowed`` (a frame with a ``vec_id`` column) PRE-FILTERS the
        candidate codes with a semi-join BEFORE scoring — metadata-
        filtered search with exact top-k semantics over the qualifying
        subset (post-filtering a fixed top-k loses recall whenever the
        filter is selective; s19 measures the gap). Strategy is left
        to Catalyst/AQE: a selective attribute set broadcasts, a huge
        one shuffles — at layout time the better answer is embedding
        the hot attribute into the codes zone next to ``cell``."""
        d = self.dim // self.m
        q = self.coarse.probe_cells(
            spark, queries, id_col, vec_col, nprobe=nprobe
        )
        cents = self.coarse.centroids(spark)
        qres = (
            q.join(F.broadcast(cents), F.col("cell") == F.col("cent_id"))
            .select(
                "q_id",
                "cell",
                F.zip_with("qv", "cent", lambda a, b: a - b).alias("rqv"),
            )
        )
        parts = F.array(
            *[
                F.struct(
                    F.lit(mi).alias("m"),
                    F.slice(F.col("rqv"), mi * d + 1, d).alias("sv"),
                )
                for mi in range(self.m)
            ]
        )
        qsubs = qres.select(
            "q_id", "cell", F.explode(parts).alias("p")
        ).select("q_id", "cell", F.col("p.m").alias("m"), F.col("p.sv").alias("sv"))
        lut = qsubs.join(F.broadcast(self.codebooks(spark)), "m").select(
            "q_id",
            "cell",
            "m",
            F.col("cent_id").alias("code"),
            F.floor(V.sqdist(F.col("sv"), F.col("cent")) * ADC_SCALE)
            .cast("long")
            .alias("contrib"),
        )
        probed = sorted(
            {r["cell"] for r in q.select("cell").distinct().collect()}
        )  # bounded pull: ≤ n_queries·nprobe ints
        cand = self.codes(spark).filter(F.col("cell").isin(probed))
        if allowed is not None:
            cand = cand.join(
                allowed.select("vec_id").distinct(), "vec_id", "semi"
            )
        scored = (
            cand.withColumnRenamed("vec_id", "neighbor_id")
            .join(F.broadcast(lut), ["cell", "m", "code"])
            .filter(F.col("q_id") != F.col("neighbor_id"))
            .groupBy("q_id", "neighbor_id")
            .agg(F.sum("contrib").alias("adist_u6"))
        )
        w = W.partitionBy("q_id").orderBy(
            F.col("adist_u6").asc(), "neighbor_id"
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("q_id", "neighbor_id", "adist_u6", "rank")
        )
