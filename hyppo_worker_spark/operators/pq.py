"""Product quantization (PQ) for compressed approximate nearest
neighbor search — the third ANN tier after sign-bucket LSH
(`similarity.knn_sign_bucket`) and IVF (`similarity.knn_ivf`).

PQ (Jégou, Douze & Schmid 2011 — a public algorithm) splits each
D-dim vector into M subvectors, learns a small k-means codebook per
subspace, and stores each vector as M small codes: with M=8, K=8 a
64-dim float64 embedding compresses 64× (512 bytes → 8 3-bit codes).
Queries run Asymmetric Distance Computation (ADC): per subspace the
query's squared distance to each centroid goes into an M×K lookup
table, and a candidate's approximate distance is the SUM of M table
entries addressed by its codes — no candidate vector is ever read.

Spark-first layout, mirroring the repo's IVF design:

- **training** is Lloyd on the (vec, subspace) exploded frame, keyed
  by subspace — all M codebooks train in the SAME per-round shuffle
  (groupBy (m, cell, pos) integer sums on the fixed-point grid from
  `similarity.kmeans_centroids`), so training cost is one corpus-wide
  pass per round regardless of M;
- **encoding** is one broadcast join of the tiny codebook table
  (M*K rows) + an argmin window per (vector, subspace): the corpus is
  scanned once and shuffles only narrow (id, m, code) rows;
- **ADC** joins the corpus CODES (never the vectors) against a
  broadcast M×K-per-query lookup table and sums per (query,
  candidate) — contributions are pre-scaled to integers
  (floor(sqdist * 1e6)), so the sum is order-independent and the
  final ranking is bit-identical across engines and partitionings.

At 100 TB the codes table is what lives in memory/SSD (the point of
PQ); the scan is over M-byte codes instead of D*8-byte vectors, and
the only corpus-scale shuffle is the final per-query top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from hyppo_worker_spark.functions import vectors as V
from hyppo_worker_spark.generations import Generations, stage
from hyppo_worker_spark.operators.index_zone import AdmittedZone
from hyppo_worker_spark.operators.similarity import FIXED_POINT_SCALE

ADC_SCALE = 1_000_000  # contribution grid: floor(sqdist * 1e6) longs


def pq_subvectors(
    df: DataFrame, id_col: str, vec_col: str, *, m: int, dim: int
) -> DataFrame:
    """Explode each vector into (``__id``, ``m``, ``sv``) subvector
    rows; ``dim`` must be divisible by ``m``."""
    d = dim // m
    parts = F.array(
        *[
            F.struct(
                F.lit(mi).alias("m"),
                F.slice(V.as_double(F.col(vec_col)), mi * d + 1, d).alias("sv"),
            )
            for mi in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias("__id"), F.explode(parts).alias("p")
    ).select("__id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv"))


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    k: int = 8,
    dim: int = 64,
    n_iter: int = 2,
) -> DataFrame:
    """Per-subspace codebooks (m, cent_id, cent) via m-keyed Lloyd.

    Init is the k smallest corpus ids' subvectors, densely renumbered
    by `similarity.seed_centroid_ids` (the same fixed seed convention
    as `similarity.kmeans_centroids`; equals ``id < k`` on 0-based
    contiguous id spaces, and fails safe — full-size seed — on any
    other id space); updates run on the shared fixed-point integer
    grid so every centroid component — and therefore every downstream
    code — is deterministic cross-engine. An emptied cell keeps its
    previous centroid.
    """
    from hyppo_worker_spark.operators.similarity import seed_centroid_ids
    from hyppo_worker_spark.session import tracked_persist

    # the exploded (vec, subspace) frame is re-consumed by the seed
    # scan and by EVERY Lloyd round's assignment (each round ends in
    # an eager localCheckpoint, i.e. an action) — persist it once
    # instead of replaying the corpus scan + explode per round
    # (guide §5); narrow rows: (id, m, d/m doubles)
    subs = tracked_persist(
        pq_subvectors(corpus, id_col, vec_col, m=m, dim=dim)
    )
    cents = subs.join(
        F.broadcast(seed_centroid_ids(subs, "__id", k)), "__id"
    ).select("m", "cent_id", F.col("sv").alias("cent"))
    for _ in range(n_iter):
        scored = subs.join(F.broadcast(cents), "m").withColumn(
            "__d", V.sqdist(F.col("sv"), F.col("cent"))
        )
        # argmin via min_by, not a window: identical assignment (same
        # (__d, cent_id) tie-break as the orderBy it replaces), but
        # map-side partial aggregation collapses the k candidates per
        # (vector, subspace) BEFORE the exchange — the window form
        # shuffles and sorts all k rows per key.
        assigned = (
            scored.groupBy("__id", "m")
            .agg(
                F.min_by(
                    F.struct(F.col("sv"), F.col("cent_id").alias("cell")),
                    F.struct(F.col("__d"), F.col("cent_id")),
                ).alias("a")
            )
            .select("__id", "m", F.col("a.sv").alias("sv"), "a.cell")
        )
        sums = (
            assigned.select("m", "cell", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m", "cell", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("x") * FIXED_POINT_SCALE).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        new_cents = (
            sums.groupBy("m", "cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"),
                F.max("n").alias("n"),
            )
            .select(
                "m",
                F.col("cell").alias("cent_id"),
                F.transform(
                    "ps",
                    lambda t: t["s"]
                    / (F.lit(float(FIXED_POINT_SCALE)) * F.col("n")),
                ).alias("new_cent"),
            )
        )
        cents = (
            cents.join(new_cents, ["m", "cent_id"], "left")
            .select(
                "m", "cent_id", F.coalesce("new_cent", "cent").alias("cent")
            )
            .localCheckpoint(eager=True)
        )
    return cents


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Encode every vector as (``__id``, ``m``, ``code``): the argmin-
    distance centroid per subspace (ties → lowest cent_id)."""
    subs = pq_subvectors(corpus, id_col, vec_col, m=m, dim=dim)
    scored = subs.join(F.broadcast(codebooks), "m").withColumn(
        "__d", V.sqdist(F.col("sv"), F.col("cent"))
    )
    # same min_by argmin as training: k codes collapse map-side
    return (
        scored.groupBy("__id", "m")
        .agg(
            F.min_by(
                "cent_id", F.struct(F.col("__d"), F.col("cent_id"))
            ).alias("code")
        )
        .select("__id", "m", "code")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """ADC top-k: (q_id, neighbor_id, adist_u6, rank) by ascending
    approximate squared distance (integer-scaled; ties → lowest id).
    Self-matches excluded. The corpus side is the CODES table only."""
    qsubs = pq_subvectors(queries, id_col, vec_col, m=m, dim=dim)
    lut = (
        qsubs.join(F.broadcast(codebooks), "m")
        .select(
            F.col("__id").alias("q_id"),
            "m",
            F.col("cent_id").alias("code"),
            F.floor(V.sqdist(F.col("sv"), F.col("cent")) * ADC_SCALE)
            .cast("long")
            .alias("contrib"),
        )
    )
    scored = (
        codes.withColumnRenamed("__id", "neighbor_id")
        .join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .groupBy("q_id", "neighbor_id")
        .agg(F.sum("contrib").alias("adist_u6"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("adist_u6").asc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "adist_u6", "rank")
    )


class PqIndex:
    """Filesystem-backed PQ index — the codes-side twin of
    ``ivf_index.IvfIndex``: codebooks train ONCE on the standing
    corpus and are committed with the corpus codes in one flip, as
    the ``codebooks/`` (m×k rows) and ``codes/`` (admitted zone of
    (vec_id, m, code, admitted) rows) frames of one generation table;
    a batch is admitted by ENCODING against the persisted codebooks
    (O(batch·m·k), one appended segment). Retraining is decided per
    SUBSPACE by the zone's basis-point drift gate grouped by ``m``: a
    drifted subspace means that slice of the vectors
    stopped resembling what its codebook was trained on
    (reconstruction error decays there first), and m-keyed drift
    tells you WHICH codebooks to retrain.
    """

    def __init__(
        self,
        path: str,
        *,
        m: int = 8,
        k: int = 8,
        dim: int = 64,
        n_iter: int = 2,
        drift_threshold_bp: int = 500,
    ) -> None:
        self.path = path
        self.m = m
        self.k = k
        self.dim = dim
        self.n_iter = n_iter
        self.drift_threshold_bp = drift_threshold_bp
        self.gens = Generations(path)
        self.zone = code_zone(self.gens, self.codebooks, m * k)

    def exists(self) -> bool:
        return bool(self.gens.paths("codebooks"))

    def train(
        self, corpus: DataFrame, id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Train per-subspace codebooks on ``corpus`` and commit them
        with the corpus codes in one flip; codes are computed against
        the STAGED codebooks read back, so the disk is authoritative."""
        books = pq_codebooks(
            corpus, id_col, vec_col,
            m=self.m, k=self.k, dim=self.dim, n_iter=self.n_iter,
        )

        def fill(out: str) -> None:
            back = stage(books, out, "codebooks")
            codes = self._encode(back, corpus, id_col, vec_col)
            self.zone.stage(codes, out, admitted=False)

        self.gens.replace(fill)

    def codebooks(self, spark) -> DataFrame:
        return self.gens.read(spark, "codebooks")

    def codes(self, spark) -> DataFrame:
        return self.zone.read(spark)

    def _encode(self, books, batch, id_col, vec_col) -> DataFrame:
        out = pq_encode(batch, books, id_col, vec_col, m=self.m, dim=self.dim)
        return out.withColumnRenamed("__id", "vec_id")

    def encode(
        self, spark, batch: DataFrame, id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """(vec_id, m, code) for ``batch`` against the PERSISTED
        codebooks (pq_encode's argmin contract — ties → lowest id, so
        an admitted vector codes exactly as a full retrain's encode
        pass would when the codebooks agree)."""
        return self._encode(self.codebooks(spark), batch, id_col, vec_col)

    def admit(
        self, spark, batch: DataFrame, id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        return self.zone.append(self.encode(spark, batch, id_col, vec_col))

    def drift_report(self, spark) -> DataFrame:
        """(m, code, n_base, n_admitted, drift_bp, retrain_needed) —
        the drift stat and gate PER SUBSPACE (drift_bp constant within
        an m group)."""
        return self.zone.drift_report(spark, self.drift_threshold_bp)


def code_zone(
    gens: Generations, codebooks, grid_size: int,
    partition_by: list[str] | None = None,
) -> AdmittedZone:
    """The ``codes`` admitted zone of a PQ-coded index: (vec_id, m,
    code, …) rows keyed by (m, code) over the codebooks' grid, drift
    grouped per subspace. Shared by ``PqIndex`` and ``IvfPqIndex``."""
    return AdmittedZone(
        gens,
        "codes",
        ("m", "code"),
        lambda spark: codebooks(spark).select(
            "m", F.col("cent_id").alias("code")
        ),
        grid_size,
        by=("m",),
        partition_by=partition_by,
    )
