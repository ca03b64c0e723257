"""Incremental MinHash-LSH near-duplicate detection for the crawl loop —
content-level dedup of ADMITTED PAGES, epoch by epoch, with per-epoch cost
O(batch), never O(corpus).

The batch operator (operators/dedup.minhash_lsh_pairs) answers "which pairs
in THIS corpus are near-dups"; a longliving crawl needs the streaming form:
"which of this epoch's pages near-duplicate anything crawled so far". Same
pattern as the URL-seen set (operators/seen.py): persistent sketch state in
a bucketed catalog table, fold per epoch.

State = the LSH band rows (doc_id, band, band_hash) of every admitted doc,
bucketed by band_hash. A fold:

1. computes the new batch's band rows (one shingle hash-agg, all-JVM);
2. equi-joins them against (a) themselves — within-batch pairs — and
   (b) ONLY the store buckets the batch's band hashes land in (bucket-
   pruned read, the Iceberg-style partition pruning the frontier uses);
3. verifies candidates with exact Jaccard against the texts (new batch +
   the candidate-referenced history docs only — a semi-join, never a
   history scan);
4. appends the batch's band rows to the store.

Equivalence: over any batch split, the union of fold outputs equals the
batch operator on the concatenated corpus — two docs collide on a band in
the incremental store iff they collide in the batch self-join, and the
verification arithmetic is shared code (pinned by
tests/test_neardup_incremental.py).

At the 10^10 design point the store is ~bands rows/doc of 3 longs (a few
hundred bytes/doc); the per-epoch join shuffles only the batch's band rows
(the store side is a bucket-pruned columnar scan), and verification cost
follows the candidate count, which banding keeps near the true-dup count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawling_infrastructure_spark.catalog import BucketedTable
from crawling_infrastructure_spark.operators.dedup import (
    minhash_band_rows,
    tune_bands,
    verify_jaccard_pairs,
)

BAND_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("band_hash", T.LongType(), False),
    ]
)


class NearDupStore:
    """Persistent incremental LSH index over a ``BucketedTable`` keyed by
    ``band_hash``. One instance per crawl task; survives kill-resume with
    the rest of the catalog."""

    def __init__(
        self,
        table: BucketedTable,
        num_perm: int = 32,
        n: int = 3,
        threshold: float = 0.8,
        seed: int = 42,
    ):
        self.table = table
        self.num_perm = num_perm
        self.n = n
        self.threshold = threshold
        self.seed = seed
        self.bands, _ = tune_bands(num_perm, threshold)
        self._live: list[DataFrame] = []

    def release(self) -> None:
        """Unpersist fold-scratch caches — call once the fold's pairs have
        been consumed (end of epoch)."""
        while self._live:
            try:
                self._live.pop().unpersist()
            except Exception:
                pass

    def _band_rows(self, docs: DataFrame) -> DataFrame:
        return minhash_band_rows(
            docs, self.num_perm, self.bands, self.n, self.threshold, self.seed
        )

    def fold(
        self,
        new_docs: DataFrame,
        history_texts: DataFrame | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Near-dup pairs (doc_a, doc_b, jaccard) between ``new_docs`` and
        everything admitted so far (including within-batch pairs), then
        admits the batch. ``new_docs``/``history_texts``: (doc_id, text);
        history must cover the docs already in the store (e.g. the pages
        table) — only candidate-referenced rows of it are ever read.

        Pair orientation is normalized (doc_a < doc_b) so fold outputs
        union cleanly across epochs. The returned plan reads the store
        snapshot taken BEFORE the admission append (catalog reads pin data
        dirs), so consuming it after fold returns is safe."""
        spark = new_docs.sparkSession
        new_docs = new_docs.select(F.col("doc_id").cast("long"), "text")
        # cached: consumed by the admission append, the self-join (twice)
        # and the bucket-id collect; released via release()
        nb = self._band_rows(new_docs).cache()
        self._live.append(nb)
        if self.table.exists():
            old = self.table.read_buckets(
                spark, self.table.bucket_ids_of(nb), BAND_SCHEMA
            )
        else:
            old = spark.createDataFrame([], BAND_SCHEMA)
        left = nb.select(F.col("doc_id").alias("_l"), "band", "band_hash")
        right = nb.unionByName(old).select(
            F.col("doc_id").alias("_r"), "band", "band_hash"
        )
        candidates = (
            left.join(right, ["band", "band_hash"])
            .filter(F.col("_l") != F.col("_r"))
            .select(
                F.least("_l", "_r").alias("doc_a"),
                F.greatest("_l", "_r").alias("doc_b"),
            )
            .dropDuplicates()
        )
        texts = new_docs
        if history_texts is not None:
            ids = candidates.select(F.col("doc_a").alias("doc_id")).unionByName(
                candidates.select(F.col("doc_b").alias("doc_id"))
            ).distinct()
            hist = (
                history_texts.select(F.col("doc_id").cast("long"), "text")
                .join(ids, "doc_id", "left_semi")
                # a doc can be both in history and in this batch (re-crawl):
                # keep one text row per id or shingle sets double
                .join(new_docs.select("doc_id"), "doc_id", "left_anti")
            )
            texts = new_docs.unionByName(hist)
        pairs = verify_jaccard_pairs(candidates, texts, self.n, self.threshold)
        self.table.append(nb, tag=tag)
        return pairs
