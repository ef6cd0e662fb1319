"""A/B the whole-table vs bucketed generation layout in the regime
bucketing is FOR: state much larger than a batch, batches touching few
buckets.

NOTES_r8 recorded the honest negative at sf0.1 (p08's 36k-row state,
every batch's components spread across all buckets → bucketed is pure
overhead). This harness builds the opposite — the 100 TB maintenance
shape shrunk to local scale: a multi-million-row state table over 64
hash buckets, then K maintenance batches that each update a few
thousand keys confined to 2 buckets. Per batch:

- whole-table (`Generations.commit`): read full state, anti-join the
  delta, union, rewrite EVERYTHING as the next generation;
- bucketed (`Generations.commit(..., split=True)`): partition-prune
  the read to touched buckets, anti-join, union, rewrite ONLY those
  buckets' generations.

Both ends are verified identical (order-insensitive row hash) and the
per-batch walls + bytes written are printed as one JSON line.

Usage: python tools/crossover_bucketed_commit.py [n_state_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hyppo_worker_spark.generations import Generations  # noqa: E402
from hyppo_worker_spark.session import get_spark  # noqa: E402

N_BUCKETS = 64
N_BATCHES = 5
BATCH_KEYS = 2_000
TOUCHED_BUCKETS = 2


def _table_bytes(gens: Generations) -> int:
    """Bytes of the generations the table references now."""
    return sum(
        os.path.getsize(os.path.join(dirpath, f))
        for gen in gens.paths()
        for dirpath, _dirs, files in os.walk(gen)
        for f in files
    )


def main() -> None:
    n_state = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_spark("crossover-bucketed")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="hyppo-crossover-")

    # --- seed state: node -> (val, payload), bucket = hash(node) % N
    state = (
        spark.range(n_state)
        .select(
            F.col("id").alias("node"),
            (F.col("id") * 7 % 1000).alias("val"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        .withColumn(
            "bucket", F.pmod(F.xxhash64("node"), F.lit(N_BUCKETS)).cast("int")
        )
    )

    whole = Generations(os.path.join(work, "whole"))
    buck = Generations(os.path.join(work, "bucketed"))

    # seed via a normal commit so both start from committed generations
    whole.commit(state.drop("bucket"), 0)
    buck.commit(state, 0, ["bucket"], split=True)

    def batch_delta(i: int):
        """~BATCH_KEYS updated keys confined to TOUCHED_BUCKETS buckets."""
        lo = (2 * i) % N_BUCKETS
        touched = [lo, (lo + 1) % N_BUCKETS]
        delta = (
            spark.range(i * 17, i * 17 + BATCH_KEYS * N_BUCKETS)
            .select(F.col("id").alias("node"))
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("node"), F.lit(N_BUCKETS)).cast("int"),
            )
            .filter(F.col("bucket").isin(touched))
            .limit(BATCH_KEYS)
            .withColumn("val", F.lit(1000 + i))
            .withColumn(
                "payload", F.sha2(F.concat_ws("-", "node", "val"), 256)
            )
        )
        return touched, delta

    walls = {"whole": [], "bucketed": []}
    for i in range(1, N_BATCHES + 1):
        touched, delta = batch_delta(i)
        delta = delta.persist()
        delta.count()

        t0 = time.time()
        cur = whole.read(spark)
        merged = cur.join(delta.select("node"), "node", "left_anti").unionByName(
            delta.drop("bucket")
        )
        whole.commit(merged, i)
        walls["whole"].append(round(time.time() - t0, 2))

        t0 = time.time()
        curb = buck.read(spark).filter(
            F.col("bucket").isin(touched)
        )
        mergedb = curb.join(
            delta.select("node"), "node", "left_anti"
        ).unionByName(delta)
        buck.commit(mergedb, i, ["bucket"], split=True)
        walls["bucketed"].append(round(time.time() - t0, 2))
        delta.unpersist()

    # --- verify both tables identical (order-insensitive)
    a = whole.read(spark)
    b = buck.read(spark).drop("bucket")
    ha = (
        a.select(F.sha2(F.concat_ws("|", "node", "val", "payload"), 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")))
        .collect()[0][0]
    )
    hb = (
        b.select(F.sha2(F.concat_ws("|", "node", "val", "payload"), 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")))
        .collect()[0][0]
    )
    same = (ha == hb) and (a.count() == b.count())

    print(
        json.dumps(
            {
                "n_state_rows": n_state,
                "n_buckets": N_BUCKETS,
                "batch_keys": BATCH_KEYS,
                "touched_buckets": TOUCHED_BUCKETS,
                "whole_wall_s": walls["whole"],
                "bucketed_wall_s": walls["bucketed"],
                "whole_table_bytes": _table_bytes(whole),
                "bucketed_table_bytes": _table_bytes(buck),
                "tables_identical": bool(same),
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
