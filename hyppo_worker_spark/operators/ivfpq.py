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

Spark-first layout: ONE generation table (``generations.py``) whose
named frames are

- ``centroids/`` : the coarse quantizer (k rows);
- ``codebooks/`` : shared per-subspace residual codebooks (m×k rows);
- ``codes/``     : (vec_id, m, code, admitted) PARTITIONED BY cell —
  an append-only admitted zone; the inverted lists hold CODES, not
  vectors (the point of PQ), and a nprobe=p query reads p/k of the
  codes via partition pruning.

A (re)train commits all three with one pointer flip, each model frame
read back from the staged segment before what depends on it. No coarse
assignments are kept: every code row carries its vector's ``cell``.

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
(``coarse.drift_report`` per cell, counted from the codes' ``cell``
column one row per vector; ``drift_report`` per residual subspace —
the admitted-zone core in ``operators/index_zone.py``).
Reference analog: the reference maintains no vector index (no
relational operators at all — SURVEY §2.4); the persisted-artifact
reuse mirrors its warm-executor affinity (WorkerFSM.scala:161-199).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hyppo_worker_spark.functions import vectors as V
from hyppo_worker_spark.generations import stage
from hyppo_worker_spark.operators.index_zone import AdmittedZone
from hyppo_worker_spark.operators.ivf_index import IvfIndex, probe
from hyppo_worker_spark.operators.pq import (
    ADC_SCALE,
    code_zone,
    pq_codebooks,
    pq_encode,
    pq_subvectors,
)
from hyppo_worker_spark.operators.similarity import kmeans_centroids


class _CellGate(AdmittedZone):
    """The coarse cell zone: the codes' m = 0 rows, one per vector."""

    def read(self, spark: SparkSession) -> DataFrame:
        return super().read(spark).filter(F.col("m") == 0)


def _residuals(
    cents: DataFrame, batch: DataFrame, id_col: str, vec_col: str,
    *, nprobe: int = 1,
) -> DataFrame:
    """(vec_id, cell, rv = v − centroid[cell]) for each of ``batch``'s
    ``nprobe`` nearest cells of ``cents`` — elementwise zip_with
    subtraction, bit-exact mirrored by the oracle's list_transform."""
    return (
        probe(cents, batch, id_col, vec_col, nprobe=nprobe)
        .join(F.broadcast(cents), F.col("cell") == F.col("cent_id"))
        .select(
            F.col("q_id").alias("vec_id"),
            "cell",
            F.zip_with("qv", "cent", lambda a, b: a - b).alias("rv"),
        )
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
        self.coarse = IvfIndex(path, n_centroids=n_cells, n_iter=n_iter)
        self.gens = self.coarse.gens
        self.coarse.zone = _CellGate(
            self.gens, "codes", ("cell",), self.coarse.zone.grid, n_cells
        )
        self.zone = code_zone(
            self.gens, self.codebooks, m * k, partition_by=["cell"]
        )

    def exists(self) -> bool:
        return bool(self.gens.paths("codebooks"))

    # -- training --------------------------------------------------------

    def _encode_residuals(
        self, books: DataFrame, resid: DataFrame
    ) -> DataFrame:
        """(vec_id, m, code, cell): PQ-encode residuals against
        ``books`` (one broadcast of m·k rows), keyed by (vec_id, cell)."""
        codes = pq_encode(
            resid.select(F.struct("vec_id", "cell").alias("k"), "rv"),
            books, "k", "rv", m=self.m, dim=self.dim,
        )
        return codes.select("__id.vec_id", "m", "code", "__id.cell")

    def train(
        self, corpus: DataFrame, id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Train coarse cells, then shared codebooks on the RESIDUALS,
        then commit both with each vector's codes (partitioned by cell)
        in one flip. Like IvfIndex/PqIndex, each model frame is read
        back from the staged segment before dependent computation."""
        from hyppo_worker_spark.session import tracked_persist

        cents = kmeans_centroids(
            corpus, id_col=id_col, vec_col=vec_col,
            n_centroids=self.n_cells, n_iter=self.n_iter,
        )

        def fill(out: str) -> None:
            back = stage(cents, out, "centroids")
            # The residual frame feeds every remaining training step —
            # n_iter Lloyd rounds and the encode pass — each an action
            # that would otherwise replay the corpus assignment (guide
            # §5: persist what is reused AND expensive to recompute).
            resid = tracked_persist(_residuals(back, corpus, id_col, vec_col))
            books = pq_codebooks(
                resid, "vec_id", "rv",
                m=self.m, k=self.k, dim=self.dim, n_iter=self.n_iter,
            )
            self.zone.stage(
                self._encode_residuals(stage(books, out, "codebooks"), resid),
                out, admitted=False,
            )

        self.gens.replace(fill)

    def codebooks(self, spark: SparkSession) -> DataFrame:
        return self.gens.read(spark, "codebooks")

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
        return self._encode_residuals(
            self.codebooks(spark),
            _residuals(self.coarse.centroids(spark), batch, id_col, vec_col),
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
        qres = _residuals(
            self.coarse.centroids(spark), queries, id_col, vec_col,
            nprobe=nprobe,
        )
        qsubs = pq_subvectors(  # keyed by (query, probed cell)
            qres.select(F.struct("vec_id", "cell").alias("k"), "rv"),
            "k", "rv", m=self.m, dim=self.dim,
        )
        lut = qsubs.join(F.broadcast(self.codebooks(spark)), "m").select(
            F.col("__id.vec_id").alias("q_id"), "__id.cell", "m",
            F.col("cent_id").alias("code"),
            F.floor(V.sqdist(F.col("sv"), F.col("cent")) * ADC_SCALE)
            .cast("long")
            .alias("contrib"),
        )
        probed = sorted(
            {r["cell"] for r in qres.select("cell").distinct().collect()}
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
