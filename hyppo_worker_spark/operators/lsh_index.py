"""Persisted MinHash-LSH index for ingestion-time deduplication.

The batch operators (``operators/dedup.py``) re-hash the corpus on
every run; an ingestion pipeline cannot — at 100 TB the corpus text
must be hashed ONCE, when each document is admitted. This index stores
the two frames the candidate+verify join actually needs:

- ``banded``  : (did, band_id, band_key) — narrow banding rows;
- ``shingles``: (did, sh array<string>)  — shingle sets for exact
  Jaccard verification of candidates.

Admitting a batch appends one generation segment of both frames
(``generations.py``): nothing existing is rewritten, and a crash
leaves no partial rows. Checking a new batch then joins the batch's
(broadcast) banding rows against ``banded`` and pulls shingle arrays
only for candidate ids — the corpus text is never re-read.

``banded`` is directory-partitioned by ``band_pt`` (an md5 bucket of
the band key) and sorted by ``band_key`` within each file:

- a probe batch only ever joins rows whose band_pt values it itself
  hashes into, so ``pairs_against`` statically prunes the scan to
  those partitions (the values are collected from the PROBE side —
  at most ``n_pt`` small integers, never corpus data). A single-doc
  lookup reads ~bands/n_pt of the index files; a large batch covers
  every bucket and degrades gracefully to a full scan;
- the in-file sort gives parquet row-group min/max stats on
  band_key, so even inside a surviving partition, row groups whose
  key range misses the probe keys are skipped by pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hyppo_worker_spark.functions import text as TX
from hyppo_worker_spark.generations import Generations
from hyppo_worker_spark.operators.dedup import (
    _minhash_banded,
    minhash_pairs_against_banded,
)


class MinHashLshIndex:
    """LSH index admitted by generation appends: ``banded`` and
    ``shingles`` are frames of the generation table at ``path``, which
    may hold other frames too (the dedup sink's corpus)."""

    def __init__(
        self,
        path: str,
        *,
        num_hashes: int = 12,
        bands: int = 6,
        shingle_n: int = 3,
        n_pt: int = 16,
    ) -> None:
        self.gens = Generations(path)
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.n_pt = n_pt

    def _band_pt(self, col):
        return TX.md5_bucket(col, self.n_pt)

    def compute_frames(
        self, docs: DataFrame, id_col: str, text_col: str
    ) -> tuple[DataFrame, DataFrame]:
        """Hash a document frame into (shingles, banded) — one pass
        over the text, exactly the batch operators' signature stage."""
        return _minhash_banded(
            docs,
            id_col,
            text_col,
            num_hashes=self.num_hashes,
            bands=self.bands,
            shingle_n=self.shingle_n,
        )

    def write(self, out: str, shingles: DataFrame, banded: DataFrame) -> None:
        """Write admitted documents' frames into segment dir ``out``.
        Banding rows land in their band_pt partition dir, sorted by
        band_key within each file (row-group min/max stats for probe
        pushdown); repartition first so each touched partition gets ONE
        file per admission, not one per upstream task."""
        (
            banded.withColumn("band_pt", self._band_pt(F.col("band_key")))
            .repartition("band_pt")
            .sortWithinPartitions("band_key")
            .write.partitionBy("band_pt")
            .parquet(os.path.join(out, "banded"))
        )
        shingles.write.parquet(os.path.join(out, "shingles"))

    def append(self, shingles: DataFrame, banded: DataFrame) -> None:
        """Admit documents: one segment, one pointer flip."""
        self.gens.append(lambda out: self.write(out, shingles, banded))

    def load(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        return self.gens.read(spark, "shingles"), self.gens.read(spark, "banded")

    def pairs_against(
        self,
        spark: SparkSession,
        new_shingles: DataFrame,
        new_banded: DataFrame,
        *,
        threshold: float = 0.8,
        broadcast_new: bool = True,
        prune: bool = True,
    ) -> DataFrame:
        """(corpus_id a_id, new_id b_id, jaccard) pairs of the new
        batch against everything admitted so far.

        With ``prune`` (default) the index scan is statically filtered
        to the band_pt partitions the PROBE batch hashes into — the
        collected list is at most ``n_pt`` integers (probe metadata,
        never corpus data), and the filter reaches the scan as a
        partition filter, so non-matching index files are never
        opened."""
        docs_c, band_c = self.load(spark)
        if prune:
            pts = sorted(
                r[0]
                for r in new_banded.select(
                    self._band_pt(F.col("band_key")).alias("pt")
                )
                .distinct()
                .collect()
            )
            if len(pts) < self.n_pt:
                band_c = band_c.filter(F.col("band_pt").isin(pts))
        return minhash_pairs_against_banded(
            docs_c,
            band_c,
            new_shingles,
            new_banded,
            threshold=threshold,
            broadcast_new=broadcast_new,
        )
