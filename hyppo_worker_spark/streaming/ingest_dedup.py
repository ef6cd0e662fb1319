"""Ingestion-time streaming deduplication: admit each micro-batch of
documents only if it survives exact AND near-duplicate checks against
everything admitted before — the "dedup a batch BEFORE appending it"
contract, run continuously.

Per micro-batch (foreachBatch; each step is a DataFrame program):

1. exact dedup WITHIN the batch (min-id per content digest);
2. near-dup WITHIN the batch: LSH candidates + exact-Jaccard verify +
   connected components → keep each cluster's minimum id;
3. exact dup AGAINST the corpus: content digests join the admitted
   digest log;
4. pin the survivors and hash them once into (shingles, banding)
   frames (``compute_frames``);
5. near-dup AGAINST the persisted LSH index
   (``operators/lsh_index.py``): the step-4 banding rows broadcast
   against the index — the admitted corpus text is never re-read or
   re-hashed; any batch doc matching an admitted doc is rejected;
6. append ONE generation segment (``generations.py``) of the
   survivors' corpus rows, digests and the step-4 frames filtered to
   the kept ids; its flip carries the batch id, so delivery is exactly
   once: a replay before the flip re-runs admission against the
   pre-batch store (never its own half-written rows), a replay after
   it is a no-op.

Scale: each batch's work is proportional to the batch (broadcast
banding rows, candidate-only shingle pulls); the append writes only
the batch's rows. The index grows with admitted docs only — rejected
near-dups never enter it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyppo_worker_spark.generations import Generations
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
        # corpus, digest log and index frames share one generation table
        self.gens = Generations(base_dir)
        self.index = MinHashLshIndex(
            base_dir, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
        )
        self.admitted_counts: list[tuple[int, int, int]] = []  # (batch, in, kept)

    def corpus(self) -> DataFrame:
        return self.gens.read(self.spark, "corpus")

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

    def _drop_exact_against_corpus(self, survivors: DataFrame) -> DataFrame:
        """Drop batch docs whose text is already in the digest log."""
        digests = self.gens.read(self.spark, "digests")
        return survivors.join(
            digests.withColumnRenamed("h", "_h"),
            F.md5(F.col(self.text_col)) == F.col("_h"),
            "left_anti",
        )

    def _drop_near_against_corpus(
        self, survivors: DataFrame, sh: DataFrame, band: DataFrame
    ) -> DataFrame:
        """Drop batch docs the LSH index matches (candidates verified
        by exact Jaccard), given the survivors' own frames."""
        idc = self.id_col
        matched = (
            self.index.pairs_against(self.spark, sh, band, threshold=self.threshold)
            .select(F.col("b_id").alias(idc))
            .distinct()
        )
        return survivors.join(matched, idc, "left_anti")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.gens.done(batch_id):
            return
        idc, txt = self.id_col, self.text_col
        n_in = batch_df.count()
        if n_in == 0:
            self.gens.ack(batch_id)
            return
        survivors = self._survivors_within_batch(batch_df)
        against = self.gens.exists()
        if against:
            survivors = self._drop_exact_against_corpus(survivors)
        # Pin the candidates, then hash them ONCE: the frames serve the
        # index check and, filtered to the kept ids, the index write
        survivors = survivors.localCheckpoint(eager=True)
        sh, band = self.index.compute_frames(survivors, idc, txt)
        if against:
            # pinned again so the segment's writes see the SAME rows
            survivors = self._drop_near_against_corpus(
                survivors, sh, band
            ).localCheckpoint(eager=True)
        n_kept = survivors.count()
        if n_kept == 0:
            self.gens.ack(batch_id)
        else:
            kept = survivors.select(F.col(idc).alias("did"))

            def fill(out: str) -> None:
                survivors.write.parquet(os.path.join(out, "corpus"))
                survivors.select(F.md5(F.col(txt)).alias("h")).write.parquet(
                    os.path.join(out, "digests")
                )
                self.index.write(
                    out,
                    sh.join(kept, "did", "left_semi"),
                    band.join(kept, "did", "left_semi"),
                )

            self.gens.append(fill, batch_id)
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
