"""Persisted-index core shared by ``IvfIndex``, ``PqIndex`` and
``IvfPqIndex``: the admitted zone, the basis-point drift gate and the
driver-side admission ledger.

Every persisted vector index here stores its per-vector state (an IVF
cell, or PQ codes) in one append-only parquet directory of
``(key…, admitted)`` rows — the ADMITTED ZONE. Training writes the
base rows once (``admitted=false``); each admitted batch appends its
rows (``admitted=true``) and nothing existing is rewritten (object-
store friendly, replay-friendly). The zone's key grid is the trained
quantizer: k cells for IVF, m×k (subspace, code) pairs for PQ.

Whether the quantizer is still fit for the grown corpus is decided
by a DRIFT GATE, not a schedule: per group (the whole grid for IVF
cells, one subspace ``m`` for PQ), the integer L1 distance in basis
points between the per-key population shares before and after
admission. Floor-division arithmetic keeps the gate value a pure
function of the counts — deterministic across engines and
partitionings — and a zero base forces the maximal value so an
unhealthy index FIRES instead of going NULL. This approximates the
index adaptation of *Continuously Adaptive Similarity Search*
(SIGMOD 2020); the append-only zones mirror the reference's streaming
ingestion discipline (``IntegrationSource.scala``'s append-only
epochs — SURVEY §2.4).

Scale: admission cost is the batch; the gate reads per-key counts
(≤ grid rows); compaction is a listing no-op below ``max_files``.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyppo_worker_spark.session import local_frame

BP = 10000  # one share = 10000 basis points


def _attach(left: DataFrame, right: DataFrame, by: tuple[str, ...]):
    """Broadcast-join a per-group frame onto ``left`` (a scalar
    crossJoin when ungrouped)."""
    if by:
        return left.join(F.broadcast(right), list(by))
    return left.crossJoin(F.broadcast(right))


def group_drift_bp(
    counts: DataFrame, by: tuple[str, ...] = ()
) -> DataFrame:
    """``(by…, drift_bp)``: the integer basis-point L1 population drift
    of each group ``by`` of a ``(key…, n_base, n_admitted)`` frame —
    per key |floor(1e4·n_base/Σn_base) − floor(1e4·(n_base+n_admitted)
    /Σall)|, summed over the group. The per-group totals are a
    broadcast singleton."""
    tot = counts.groupBy(*by).agg(
        F.sum("n_base").alias("__tb"),
        F.sum(F.col("n_base") + F.col("n_admitted")).alias("__tt"),
    )
    # `div` (not float `/` + floor): pure int64 arithmetic — no double
    # mantissa limit to hit when counts reach 1e12 rows. Zero-base
    # guard: a group with __tb=0 (empty or wiped base) would make `div`
    # NULL and the gate silently never signal; force maximal per-key
    # drift instead so it FIRES.
    per_key = _attach(counts, tot, by).withColumn(
        "__d",
        F.when(
            (F.col("__tb") == 0) | (F.col("__tt") == 0), F.lit(BP)
        )
        .otherwise(
            F.abs(
                F.expr(f"({BP} * n_base) div __tb")
                - F.expr(f"({BP} * (n_base + n_admitted)) div __tt")
            )
        )
        .cast("long"),
    )
    return per_key.groupBy(*by).agg(F.sum("__d").alias("drift_bp"))


def drift_bp(counts: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """``counts`` with its group's :func:`group_drift_bp` attached to
    every key row — all-integer, so the value is independent of
    partitioning and engine float semantics."""
    return _attach(counts, group_drift_bp(counts, by), by)


def drift_bp_int(counts: list[tuple[int, int]], grid_size: int) -> int:
    """Driver-side twin of :func:`group_drift_bp` for ONE group's bounded
    ``(n_base, n_admitted)`` pairs: same floor-div arithmetic, same
    zero-base guard (Python ``//`` equals SQL ``div`` on non-negative
    counts). Equality with the Catalyst form is pinned by test."""
    assert len(counts) <= grid_size, (
        f"{len(counts)} keys exceed the trained grid of {grid_size}"
    )
    tb = sum(nb for nb, _ in counts)
    tt = sum(nb + na for nb, na in counts)
    if tb == 0 or tt == 0:
        return BP * len(counts)
    return sum(
        abs((BP * nb) // tb - (BP * (nb + na)) // tt) for nb, na in counts
    )


def fold_ledger(
    base: dict[tuple, int],
    prev: dict[tuple, int],
    cur: dict[tuple, int],
    *,
    n_by: int,
    grid_size: int,
) -> list[tuple]:
    """One streaming-admission trigger, folded on the driver:
    ``(key…, n_base, n_admitted_cum, drift_bp)`` per trained key,
    sorted. ``base`` maps every trained key to its base count,
    ``prev`` the previous ledger's cumulative admitted counts (empty
    for the first batch), ``cur`` this batch's counts; the first
    ``n_by`` key fields form the drift group. Integer addition is
    associative, so the fold equals a cumulative recompute over every
    admitted batch, and replaying a batch against the same ``prev``
    reproduces identical rows."""
    assert len(base) <= grid_size, (
        f"{len(base)} keys exceed the trained grid of {grid_size}"
    )
    assert set(prev) <= set(base) and set(cur) <= set(base), (
        "admitted keys outside the trained grid"
    )
    keys = sorted(base)
    n_adm = {k: prev.get(k, 0) + cur.get(k, 0) for k in keys}
    groups: dict[tuple, list[tuple[int, int]]] = {}
    for k in keys:
        groups.setdefault(k[:n_by], []).append((base[k], n_adm[k]))
    drift = {g: drift_bp_int(p, grid_size) for g, p in groups.items()}
    return [(*k, base[k], n_adm[k], drift[k[:n_by]]) for k in keys]


class AdmittedZone:
    """The append-only ``(key…, admitted)`` parquet directory of one
    persisted index. ``grid`` returns the trained key grid (one row
    per key, ``grid_size`` rows); ``by`` names the drift group
    (``()`` for IVF cells, ``("m",)`` for PQ subspaces);
    ``partition_by`` keeps a hive layout (IVF-PQ's ``cell=`` inverted
    lists) through every write and compaction."""

    def __init__(
        self,
        path: str,
        keys: tuple[str, ...],
        grid: Callable[[SparkSession], DataFrame],
        grid_size: int,
        *,
        by: tuple[str, ...] = (),
        partition_by: list[str] | None = None,
    ) -> None:
        self.path = path
        self.keys = keys
        self.grid = grid
        self.grid_size = grid_size
        self.by = by
        self.partition_by = partition_by

    def _write(self, rows: DataFrame, admitted: bool, mode: str) -> None:
        w = rows.withColumn("admitted", F.lit(admitted)).write.mode(mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)

    def write_base(self, rows: DataFrame) -> None:
        """(Re)write the zone as the trained corpus' rows."""
        self._write(rows, False, "overwrite")

    def append(self, rows: DataFrame) -> DataFrame:
        """Append an admitted batch's rows; returns ``rows``."""
        self._write(rows, True, "append")
        return rows

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def counts(
        self, spark: SparkSession, probe: DataFrame | None = None
    ) -> DataFrame:
        """``(key…, n_base, n_admitted)`` over the trained grid, empty
        keys included (a key that lost all mass is itself drift
        evidence). With ``probe`` (rows carrying the key columns), the
        admitted side is the probe instead of the zone's admissions:
        the gate's value if exactly that batch were admitted."""
        rows = self.read(spark)
        if probe is not None:
            rows = rows.filter(~F.col("admitted")).select(
                *self.keys, "admitted"
            ).unionByName(
                probe.select(*self.keys).withColumn("admitted", F.lit(True))
            )
        per_key = rows.groupBy(*self.keys).agg(
            F.sum(F.when(~F.col("admitted"), 1).otherwise(0)).alias(
                "n_base"
            ),
            F.sum(F.when(F.col("admitted"), 1).otherwise(0)).alias(
                "n_admitted"
            ),
        )
        return self.grid(spark).join(per_key, list(self.keys), "left").select(
            *self.keys,
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_admitted", F.lit(0)).cast("long").alias(
                "n_admitted"
            ),
        )

    def drift_report(
        self, spark: SparkSession, threshold_bp: int
    ) -> DataFrame:
        """``(key…, n_base, n_admitted, drift_bp, retrain_needed)`` —
        the maintenance decision as data (``drift_bp`` constant within
        a ``by`` group)."""
        return drift_bp(self.counts(spark), self.by).withColumn(
            "retrain_needed", F.col("drift_bp") > F.lit(threshold_bp)
        )

    def compact(
        self, spark: SparkSession, *,
        max_files: int | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict | None:
        """Rewrite the zone into ~target-sized files (p28's small-files
        discipline): admission writes one parquet dir per batch by
        design, so the file count — and every gate read's per-file
        open cost — grows with batch count. With ``max_files`` set
        this is a one-listing no-op at or below the threshold, safe to
        call after every admission. Rows and columns are preserved, so
        counts, drift and search are value-identical after the
        rewrite. Run in a maintenance window (see
        ``maintenance.compact``)."""
        from hyppo_worker_spark.operators.maintenance import (
            compact,
            dataset_file_stats,
        )

        if (
            max_files is not None
            and dataset_file_stats(self.path)["n_files"] <= max_files
        ):
            return None
        return compact(
            spark, self.path, target_file_bytes,
            partition_by=self.partition_by,
        )


class AdmissionLedger:
    """Streaming admission into an index's key grid, one
    ``foreachBatch`` trigger at a time (:meth:`admit` is the sink).

    Each trigger encodes its batch against the persisted artifacts
    and writes the rows to its own ``admitted/batch=<id>`` directory
    with mode=overwrite, then folds the previous ledger slice with the
    batch's per-key counts on the driver (:func:`fold_ledger`; every
    frame past the batch count is ≤ grid rows of integers) and writes
    ``ledger/batch=<id>``. Per-batch overwrite directories make a
    replayed trigger rewrite identical bytes instead of
    double-appending, and a replay of batch b re-reads ledger b−1,
    written by a completed earlier trigger. Per trigger: O(batch +
    grid) I/O, whatever the number of batches admitted before."""

    def __init__(
        self,
        spark: SparkSession,
        work: str,
        zone: AdmittedZone,
        encode: Callable[[DataFrame], DataFrame],
        threshold_bp: int,
    ) -> None:
        self.spark = spark
        self.zone = zone
        self.encode = encode
        self.threshold_bp = threshold_bp
        self.adm_dir = os.path.join(work, "admitted")
        self.ledger_dir = os.path.join(work, "ledger")
        # base populations are FIXED after train: one bounded pull
        # instead of a zone scan per trigger
        self.base = self._key_counts(
            zone.counts(spark).select(*zone.keys, "n_base"), "n_base"
        )

    def _key_counts(self, df: DataFrame, col: str) -> dict[tuple, int]:
        keys = self.zone.keys
        return {
            tuple(int(r[k]) for k in keys): int(r[col])
            for r in df.collect()
        }  # bounded pull: ≤ grid rows

    def admit(self, batch: DataFrame, batch_id: int) -> None:
        spark, keys = self.spark, self.zone.keys
        batch_id = int(batch_id)
        batch_dir = os.path.join(self.adm_dir, f"batch={batch_id}")
        self.encode(batch).write.mode("overwrite").parquet(batch_dir)
        cur = self._key_counts(
            spark.read.parquet(batch_dir)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n")),
            "n",
        )
        prev = (
            self._key_counts(
                spark.read.parquet(
                    os.path.join(self.ledger_dir, f"batch={batch_id - 1}")
                ).select(*keys, "n_admitted_cum"),
                "n_admitted_cum",
            )
            if batch_id > 0
            else {}
        )
        rows = fold_ledger(
            self.base, prev, cur,
            n_by=len(self.zone.by), grid_size=self.zone.grid_size,
        )
        key_schema = ", ".join(f"{k} long" for k in keys)
        local_frame(
            spark,
            [(*r, r[-1] > self.threshold_bp, batch_id) for r in rows],
            f"{key_schema}, n_base long, n_admitted_cum long, "
            "drift_bp long, retrain_needed boolean, batch_seq long",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.ledger_dir, f"batch={batch_id}")
        )

    def read(self) -> list:
        """Every ledger row, ordered by (batch_seq, key…) — a bounded
        pull of triggers × grid rows."""
        cols = ("batch_seq", *self.zone.keys, "n_base", "n_admitted_cum",
                "drift_bp")
        return (
            self.spark.read.option("basePath", self.ledger_dir)
            .parquet(self.ledger_dir)
            .select(*[F.col(c).cast("long") for c in cols], "retrain_needed")
            .orderBy("batch_seq", *self.zone.keys)
        ).collect()
