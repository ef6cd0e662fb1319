"""Compaction: many small files → few target-sized files, same rows."""

from pyspark.sql import functions as F

from hyppo_worker_spark.generations import Generations
from hyppo_worker_spark.operators.maintenance import compact, dataset_file_stats


def test_compact_small_files(spark, tmp_path):
    p = str(tmp_path / "frag")
    gens = Generations(p)
    # 64 tiny files
    gens.commit(spark.range(10000).select(
        "id", (F.col("id") % 7).alias("k"), F.rand(1).alias("v")
    ).repartition(64))
    before = dataset_file_stats(*gens.paths())
    assert before["n_files"] >= 64

    total_before = gens.read(spark).count()
    sum_before = gens.read(spark).agg(F.sum("id")).first()[0]

    report = compact(spark, p, target_file_bytes=before["total_bytes"])  # → 1 file
    after = dataset_file_stats(*gens.paths())
    assert after["n_files"] < before["n_files"]
    assert report["target_partitions"] == 1

    assert gens.read(spark).count() == total_before
    assert gens.read(spark).agg(F.sum("id")).first()[0] == sum_before


def test_zorder_by_tightens_all_dimensions(spark):
    """Z-order clustering gives EVERY participating column tight
    per-partition ranges (the data-skipping property), unlike a plain
    sort which only helps its leading column."""
    from pyspark.sql import functions as F

    from hyppo_worker_spark.operators.maintenance import zorder_by

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"),
        (F.floor(F.col("id") / 64)).alias("b"),
    )
    n_parts = 16

    def mean_normalized_range(frame, col, span):
        per = (
            frame.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg((F.max(col) - F.min(col)).alias("r"))
            .agg(F.avg("r"))
            .first()[0]
        )
        return per / span

    z = zorder_by(df, ["a", "b"], n_parts).persist()
    z.count()
    plain = df.repartitionByRange(n_parts, "a").sortWithinPartitions("a")
    plain = plain.persist()
    plain.count()

    # Z-order: both dimensions tight (each partition covers ~a quarter
    # of each axis for a 16-way split of a 64x64 grid).
    assert mean_normalized_range(z, "a", 63) < 0.5
    assert mean_normalized_range(z, "b", 63) < 0.5
    # Plain sort: leading column tight, trailing column spans ~all.
    assert mean_normalized_range(plain, "a", 63) < 0.2
    assert mean_normalized_range(plain, "b", 63) > 0.9
    z.unpersist()
    plain.unpersist()


def test_zorder_key_is_morton_interleave(spark):
    """Spot-check the key against hand-computed Morton codes."""
    from pyspark.sql import functions as F

    from hyppo_worker_spark.operators.maintenance import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 3)], "a int, b int"
    )
    key = zorder_key(["a", "b"], 2, {"a": (0, 3), "b": (0, 3)})
    got = {
        (r.a, r.b): r.k
        for r in df.withColumn("k", key).collect()
    }
    # bits interleave as b1 a1 b0 a0
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(3, 3)] == 15
