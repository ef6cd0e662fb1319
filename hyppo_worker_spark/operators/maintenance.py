"""Dataset maintenance: small-file compaction and size-targeted
writes.

At 100 TB the small-files problem is operational, not theoretical:
a streaming sink or a many-task ingestion job (each engine task writes
its own records file) leaves thousands of KB-sized parquet files, and
every downstream scan pays per-file open cost. ``compact`` rewrites a
generation table to approximately ``target_file_bytes`` per file and
publishes it with a pointer flip; the analog of the reference's
HandleJobCompleted finalization hook ("commit manifest, swap
partitions" — SURVEY.md §2.A op 7) doing a VACUUM-style rewrite.

``zorder_by``/``zorder_key`` here are the N-dimensional maintenance-
rewrite form of z-ordering (bounds collected once driver-side, sampled
range partitioning). The deterministic, oracle-checkable two-dim form
— bounds in-plan, pure-function file ids, verified by q50 and
footer-stat tests — lives in ``operators.zorder``.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hyppo_worker_spark.generations import Generations


def dataset_file_stats(*paths: str) -> dict:
    """(file count, total bytes, mean bytes) for a written dataset
    (the union of its directories)."""
    files = [
        f
        for path in paths
        for f in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(f) and not f.endswith((".crc", "_SUCCESS"))
    ]
    total = sum(os.path.getsize(f) for f in files)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "mean_bytes": total // max(len(files), 1),
    }


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict:
    """Rewrite the generation table at ``path`` (``generations.py``)
    into ~target-sized files.

    Partition count = ceil(current bytes / target). The rewrite is the
    table's next generation and the swap is the pointer flip: a reader
    sees the old files or the new ones, never a missing dataset, and a
    crash at any step leaves the old generation current (the next
    commit deletes the half-written one). ``partition_by`` preserves a
    hive-partitioned layout (e.g. an index's cell-partitioned inverted
    lists): the rewrite repartitions BY those columns so each partition
    directory lands from one task and partition pruning keeps working
    on the compacted zone. Returns before/after file stats.
    """
    gens = Generations(path)
    before = dataset_file_stats(*gens.paths())
    n_parts = max(1, -(-before["total_bytes"] // target_file_bytes))
    df = gens.read(spark)
    if partition_by:
        df = df.repartition(*[F.col(c) for c in partition_by])
    else:
        df = df.repartition(n_parts)
    gens.commit(df, partition_by=partition_by)
    after = dataset_file_stats(*gens.paths())
    return {"before": before, "after": after, "target_partitions": n_parts}


def zorder_key(cols: list, bits_per_col: int, bounds: dict):
    """Morton (Z-order) interleave key over linearly-quantized columns.

    Each column is quantized to ``bits_per_col`` bits against its
    [min, max] bounds, then the bit planes are interleaved so that
    rows close in EVERY dimension get close keys. The expression is a
    flat chain of shift/and/or Catalyst ops (no lambdas, no UDF) —
    whole-stage-codegen friendly.

    ``bounds`` maps column name -> (min, max) as Python scalars,
    computed by the caller in one aggregate pass; with equal bounds a
    column contributes a constant 0 plane.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n * bits_per_col > 63:
        raise ValueError("interleaved key must fit in a signed 64-bit int")
    planes = []
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        span = float(hi) - float(lo) if hi > lo else 1.0
        scale = (2**bits_per_col - 1) / span
        q = F.least(
            F.greatest(
                F.floor((F.col(c).cast("double") - F.lit(float(lo))) * scale),
                F.lit(0),
            ),
            F.lit(2**bits_per_col - 1),
        ).cast("long")
        for j in range(bits_per_col):
            planes.append(
                F.shiftleft(F.shiftright(q, j).bitwiseAND(F.lit(1)), j * n + i)
            )
    key = planes[0]
    for p in planes[1:]:
        key = key.bitwiseOR(p)
    return key


def zorder_by(df, cols: list, n_partitions: int, bits_per_col: int = 16):
    """Cluster a DataFrame by Z-order over ``cols`` into
    ``n_partitions`` range partitions: the write-layout operator for
    multi-dimensional data skipping.

    A sort by (a, b) gives perfect file pruning on ``a`` and none on
    ``b``; the Morton interleave gives every listed column tight
    per-file min/max ranges, so parquet footer stats (or a manifest
    zonemap) prune files for predicates on ANY participating column.
    Plan: one aggregate for bounds (tiny, broadcast as literals), one
    range-partitioning shuffle on the key, an in-partition sort — the
    same cost as a plain sorted rewrite at 100 TB, but skippable in
    every dimension. Quantization is linear; heavily skewed columns
    should be pre-transformed (log/rank) by the caller."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    row = df.agg(*aggs).first()
    bounds = {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols}
    key = zorder_key(cols, bits_per_col, bounds)
    return (
        df.withColumn("__zkey", key)
        .repartitionByRange(n_partitions, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
