"""Per-epoch fetch metrics — the worker_meta analogue
(lib/types/workermeta.ts:20-77, stats at master/src/models/workermeta.model.ts:78-117).

One row per (epoch, host) instead of one Mongo doc per lambda: the same
lineage information (claimed/completed/failed counts, bytes, elapsed, rps)
at the granularity Spark actually schedules. Aggregations are all built-in
hash aggregates (partial+final)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_infrastructure_spark.schema import Status


def epoch_metrics(results: DataFrame, epoch: int) -> DataFrame:
    """FETCH_RESULT rows -> METRICS rows. avg_items_per_second reproduces
    computeAverageItemsPerSecond = crawled/elapsed_s (crawler/src/metadata.ts:85-96)."""
    return (
        results.groupBy("host")
        .agg(
            F.count("*").alias("claimed"),
            F.sum(F.when(F.col("status") == Status.COMPLETED, 1).otherwise(0)).alias("completed"),
            F.sum(
                F.when(
                    (F.col("status") == Status.FAILED) & (F.col("retries_delta") > 0), 1
                ).otherwise(0)
            ).alias("failed"),
            F.sum(
                F.when(
                    (F.col("status") == Status.FAILED) & (F.col("retries_delta") == 0), 1
                ).otherwise(0)
            ).alias("blocked"),
            F.sum("bytes_fetched").alias("bytes_fetched"),
            F.sum("elapsed_ms").alias("elapsed_ms"),
        )
        .select(
            F.lit(epoch).cast("int").alias("epoch"),
            "host",
            "claimed",
            "completed",
            "failed",
            "blocked",
            "bytes_fetched",
            "elapsed_ms",
            (F.col("completed") / (F.col("elapsed_ms") / 1000.0)).alias("avg_items_per_second"),
        )
    )


def items_browser_debug(debug: DataFrame) -> DataFrame:
    """worker-meta ``items_browser_debug`` (crawl_queue.ts:173-180: the
    update collects the worker's FAILED item ids into an id array) over the
    per-task debug table: per (epoch, host) sorted failed-id list. Sorted
    so replays and engines agree on array order (Mongo preserved the
    worker's item iteration order; a distributed collect_list does not)."""
    return debug.groupBy("epoch", "host").agg(
        F.sort_array(F.collect_list("url_hash")).alias("items_browser_debug")
    )


def lost_worker_candidates(worker_meta: DataFrame) -> DataFrame:
    """P4 getLostWorkerCandidates (master/src/models/workermeta.model.ts:
    126-130): ``find({status: started, ended: null,
    average_items_per_second: null})`` — workers that started but never
    reported completion or a throughput sample. Status codes per
    lib/types/workermeta.ts (started=0, completed=1, lost=2).

    The epoch loop itself heals via snapshot resume (U4/U8 —
    plans/epoch.py), which subsumes the reference's lost-worker sweep;
    this operator is the reference's literal candidate query for parity
    and for deployments that track per-worker rows. Conjunctive
    null-predicates push down to the scan (IsNull + EqualTo in
    PushedFilters)."""
    return worker_meta.filter(
        (F.col("status") == 0)
        & F.col("ended").isNull()
        & F.col("average_items_per_second").isNull()
    )
