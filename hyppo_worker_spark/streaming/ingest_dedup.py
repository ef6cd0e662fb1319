"""Ingestion-time streaming deduplication: admit each micro-batch of
documents only if it survives exact AND near-duplicate checks against
everything admitted before — the "dedup a batch BEFORE appending it"
contract, run continuously.

Per micro-batch (foreachBatch; each step is a DataFrame program):

1. exact dedup WITHIN the batch (min-id per content digest);
2. hash the survivors once into (shingles, banding) frames;
3. near-dup WITHIN the batch: LSH candidates + exact-Jaccard verify +
   connected components → keep each cluster's minimum id;
4. near-dup AGAINST the persisted LSH index
   (``operators/lsh_index.py``): the batch's banding rows broadcast
   against the index — the admitted corpus text is never re-read or
   re-hashed; any batch doc matching an admitted doc is rejected;
5. exact dup AGAINST the corpus: content digests join the admitted
   digest log (same append-only layout);
6. append the survivors' rows to the corpus sink and their frames to
   the index.

Batch replays (at-least-once delivery after a crash) are absorbed by
a started-marker guard, ack-early like ``IdempotentBatchSink`` —
admission is never re-run, so a replayed batch cannot reject ITSELF
against the index entries it already wrote.

Scale: each batch's work is proportional to the batch (broadcast
banding rows, candidate-only shingle pulls); the per-batch index
append is a pure parquet append (no read-modify-write). The index
grows with admitted docs only — rejected near-dups never enter it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyppo_worker_spark.operators.dedup import (
    connected_components_adaptive,
    minhash_lsh_pairs,
)
from hyppo_worker_spark.operators.lsh_index import MinHashLshIndex


class DedupIngestSink:
    """foreachBatch callable: incremental exact + near-dup admission."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.8,
        num_hashes: int = 12,
        bands: int = 6,
        shingle_n: int = 3,
    ) -> None:
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.index = MinHashLshIndex(
            os.path.join(base_dir, "index"),
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        )
        self.corpus_dir = os.path.join(base_dir, "corpus")
        self.digest_dir = os.path.join(base_dir, "digests")
        self.marker_dir = os.path.join(base_dir, "markers")
        os.makedirs(self.marker_dir, exist_ok=True)
        self.admitted_counts: list[tuple[int, int, int]] = []  # (batch, in, kept)

    # -- admission ----------------------------------------------------------

    def _survivors_within_batch(self, batch: DataFrame) -> DataFrame:
        """Exact + near-dup dedup INSIDE one batch, keep min ids."""
        idc, txt = self.id_col, self.text_col
        keep_exact = (
            batch.select(F.md5(F.col(txt)).alias("h"), F.col(idc))
            .groupBy("h")
            .agg(F.min(idc).alias("kid"))
            .select(F.col("kid").alias(idc))
        )
        uniq = batch.join(keep_exact, idc, "left_semi")
        pairs = minhash_lsh_pairs(
            uniq, idc, txt,
            num_hashes=self.index.num_hashes,
            bands=self.index.bands,
            shingle_n=self.index.shingle_n,
            threshold=self.threshold,
        )
        # size-adaptive (launch-floor cut, NOTES_r11): a micro-batch's
        # within-batch pair set is tiny; distributed fallback above cap
        comp = connected_components_adaptive(pairs)
        drop = comp.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(idc)
        )
        return uniq.join(drop, idc, "left_anti")

    def _reject_against_corpus(self, survivors: DataFrame) -> DataFrame:
        """Drop batch docs that duplicate anything already admitted."""
        idc, txt = self.id_col, self.text_col
        if not self.index.exists():
            return survivors
        # exact: digest membership in the admitted digest log
        digests = self.spark.read.parquet(self.digest_dir)
        survivors = survivors.join(
            digests.withColumnRenamed("h", "_h"),
            F.md5(F.col(txt)) == F.col("_h"),
            "left_anti",
        )
        # near: LSH index candidates verified by exact Jaccard
        sh_n, band_n = self.index.compute_frames(survivors, idc, txt)
        matched = (
            self.index.pairs_against(
                self.spark, sh_n, band_n, threshold=self.threshold
            )
            .select(F.col("b_id").alias(idc))
            .distinct()
        )
        return survivors.join(matched, idc, "left_anti")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(self.marker_dir, f"batch-{batch_id}.started")
        if os.path.exists(marker):
            return
        with open(marker, "w") as f:
            f.write("started")

        idc, txt = self.id_col, self.text_col
        n_in = batch_df.count()
        if n_in == 0:
            return
        survivors = self._reject_against_corpus(
            self._survivors_within_batch(batch_df)
        )
        # Pin the admitted set before the three writes below so all of
        # them see the SAME rows (plans re-executing against a growing
        # index would not).
        survivors = survivors.localCheckpoint(eager=True)
        n_kept = survivors.count()
        if n_kept > 0:
            survivors.write.mode("append").parquet(self.corpus_dir)
            survivors.select(F.md5(F.col(txt)).alias("h")).write.mode(
                "append"
            ).parquet(self.digest_dir)
            sh, band = self.index.compute_frames(survivors, idc, txt)
            self.index.append(sh, band)
        self.admitted_counts.append((batch_id, n_in, n_kept))


def dedup_ingest(
    docs: DataFrame,
    sink: DedupIngestSink,
    checkpoint_dir: str,
):
    """Wire a streaming document source into the admission sink."""
    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
