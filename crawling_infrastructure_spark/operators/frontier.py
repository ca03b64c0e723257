"""Frontier operators — the Spark re-expression of the reference's queue
model (master/src/models/queue.model.ts, crawler/src/crawl_queue.ts).

Ordering contract (replaces Mongo "natural order", which is racy and
unreproducible — SURVEY.md §7.3 risk 1): a frontier row's dequeue rank is

    (priority DESC, epoch_added ASC, seq ASC)        with seq = url_hash

This is deterministic, needs NO global sort at ingest (seq is a pure
function of the url), and preserves the reference's BFS-ish "older items
first" behavior (epoch_added ascends). The pure-Python oracle in
tests/reference_oracle.py implements the identical contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_infrastructure_spark.functions.url import (
    canonicalize_url_col,
    host_col,
    url_hash_col,
)
from crawling_infrastructure_spark.schema import FRONTIER_SCHEMA, Status

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def frontier_rows(items: DataFrame, priority: int, epoch: int) -> DataFrame:
    """items['item'] -> frontier rows, status=initial (S1 insertItems,
    queue.model.ts:32-68). Canonicalizes (north_rule addition — the reference
    stores opaque strings), drops garbage, and dedups within the batch.
    All JVM-side expressions: survives any scale."""
    canon = canonicalize_url_col(F.col("item"))
    return (
        items.select(canon.alias("url"))
        .filter(F.col("url").isNotNull())
        .dropDuplicates(["url"])
        .select(
            F.col("url"),
            url_hash_col(F.col("url")).alias("url_hash"),
            host_col(F.col("url")).alias("host"),
            F.xxhash64(host_col(F.col("url"))).alias("host_hash"),
            F.lit(Status.INITIAL).cast("int").alias("status"),
            F.lit(0).cast("int").alias("retries"),
            F.lit(priority).cast("int").alias("priority"),
            url_hash_col(F.col("url")).alias("seq"),
            F.lit(None).cast("timestamp").alias("crawled"),
            F.lit("").alias("error"),
            F.lit("").alias("region"),
            F.lit(epoch).cast("int").alias("epoch_added"),
        )
    )


def assign_regions(rows: DataFrame, region_map: DataFrame) -> DataFrame:
    """J2 region->bucket lookup (crawltask.service.ts:42-49 bucketByRegion +
    the per-item region stamp crawl_queue.ts writes): broadcast-join a small
    (host, region) map onto frontier rows at enqueue time; unmapped hosts
    keep the default ''. The region column then routes storage placement
    (the reference picks the S3 bucket per region)."""
    m = region_map.select(F.col("host").alias("_rh"), F.col("region").alias("_rr"))
    j = rows.join(F.broadcast(m), rows.host == F.col("_rh"), "left")
    return j.withColumn("region", F.coalesce(F.col("_rr"), F.col("region"))).drop("_rh", "_rr")


def merge_results(frontier: DataFrame, results: DataFrame) -> DataFrame:
    """Write-back of a crawl batch — U1 updateQueueNew
    (crawler/src/crawl_queue.ts:119-149): per claimed item set
    {status, retries += delta, crawled, error}.

    Parquet fallback for Iceberg ``MERGE INTO frontier USING results ON
    url_hash WHEN MATCHED THEN UPDATE``; with an Iceberg bucketed table only
    the touched buckets rewrite. Both join sides are O(batch) — the frontier
    side is pre-restricted to dirty buckets by the caller — so the strategy
    is left to AQE: it broadcasts the results side when it is small and
    falls back to a shuffle join when an epoch claims millions of rows
    (a forced broadcast would serialize a budget-sized build on the driver).

    The results side is deduplicated per url_hash before the join: with
    cfg.dedup=False the frontier may hold duplicate url_hash rows, both
    copies get claimed and fetched, and an un-deduped NxM join would inflate
    the frontier every epoch. The hermetic fetcher is deterministic per
    (url, epoch) so duplicate result rows are identical and the pick is
    stable; both frontier copies receive the same write-back.
    """
    r = results.dropDuplicates(["url_hash"]).select(
        F.col("url_hash").alias("r_hash"),
        F.col("status").alias("r_status"),
        F.col("retries_delta").alias("r_delta"),
        F.col("error").alias("r_error"),
        F.col("warc_ts").alias("r_crawled"),
    )
    joined = frontier.join(r, frontier.url_hash == r.r_hash, "left")
    return joined.select(
        "url",
        "url_hash",
        "host",
        "host_hash",
        F.coalesce("r_status", "status").cast("int").alias("status"),
        (F.col("retries") + F.coalesce("r_delta", F.lit(0))).cast("int").alias("retries"),
        "priority",
        "seq",
        F.coalesce("r_crawled", "crawled").alias("crawled"),
        F.coalesce("r_error", "error").alias("error"),
        "region",
        "epoch_added",
    )


def reenqueue_failed(frontier: DataFrame, max_retries: int) -> DataFrame:
    """U2 enqueueFailedItems (queue.model.ts:258-266): failed items with
    retries < retry_failed_items go back to initial. The reference's daemon
    only fires this when no workers are running (daemon.ts:188-194); in the
    epoch model that is always true at epoch end."""
    cond = (F.col("status") == Status.FAILED) & (F.col("retries") < max_retries)
    return frontier.withColumn(
        "status", F.when(cond, F.lit(Status.INITIAL)).otherwise(F.col("status")).cast("int")
    )


def reenqueue_all_failed(frontier: DataFrame) -> DataFrame:
    """U3 enqueueAllFailedItems (queue.model.ts:274-287): all failed ->
    initial, retries/error/region reset."""
    failed = F.col("status") == Status.FAILED
    return (
        frontier.withColumn("retries", F.when(failed, F.lit(0)).otherwise(F.col("retries")).cast("int"))
        .withColumn("error", F.when(failed, F.lit("")).otherwise(F.col("error")))
        .withColumn("region", F.when(failed, F.lit("")).otherwise(F.col("region")))
        .withColumn("status", F.when(failed, F.lit(Status.INITIAL)).otherwise(F.col("status")).cast("int"))
    )


def reenqueue_items(frontier: DataFrame, matched: DataFrame, key: str = "url_hash") -> DataFrame:
    """U5 predicate re-enqueue — the write-back half of POST /enqueue
    (master/src/services/queue.service.ts:106-180): items whose stored
    result passed the user predicate get {status: initial, retries: 0,
    crawled: null, error: ''} (the exact updateItems payload,
    queue.service.ts:156-161). ``matched`` carries the keys; the predicate
    itself runs upstream over the pages table (CrawlJob.reenqueue).

    Works on any DataFrame carrying (key, status, retries, crawled, error) —
    the registry query reuses it over driver tables. No broadcast hint: the
    matched side is user-predicate-sized (possibly the whole corpus), AQE
    picks the strategy."""
    m = matched.select(F.col(key).alias("_m")).distinct()
    j = frontier.join(m, frontier[key] == F.col("_m"), "left")
    hit = F.col("_m").isNotNull()
    return (
        j.withColumn("status", F.when(hit, F.lit(Status.INITIAL)).otherwise(F.col("status")).cast("int"))
        .withColumn("retries", F.when(hit, F.lit(0)).otherwise(F.col("retries")).cast("int"))
        .withColumn("crawled", F.when(hit, F.lit(None).cast("timestamp")).otherwise(F.col("crawled")))
        .withColumn("error", F.when(hit, F.lit("")).otherwise(F.col("error")))
        .drop("_m")
    )


def reset_running(frontier: DataFrame) -> DataFrame:
    """U4 resetQueueItems/resetRunningItems (queue.model.ts:245-250,295-308):
    heal running -> initial. In Spark this only runs on resume-after-kill —
    snapshot isolation makes mid-epoch 'stuck running' unobservable."""
    return frontier.withColumn(
        "status",
        F.when(F.col("status") == Status.RUNNING, F.lit(Status.INITIAL))
        .otherwise(F.col("status"))
        .cast("int"),
    )


def queue_statistics(frontier: DataFrame) -> DataFrame:
    """A1 getQueueStatistics (queue.model.ts:98-106): count per status.
    Hash aggregate — partial (map-side) + final, no row leaves an executor
    before pre-aggregation."""
    return frontier.groupBy("status").agg(F.count("*").alias("cnt")).orderBy("status")


def task_finished(frontier: DataFrame, max_retries: int, num_items: int | None = None) -> bool:
    """A2 taskFinished (queue.model.ts:116-127): completed + permanently
    failed >= num_items. Single job, two conditional sums."""
    row = frontier.agg(
        F.sum(F.when(F.col("status") == Status.COMPLETED, 1).otherwise(0)).alias("done"),
        F.sum(
            F.when(
                (F.col("status") == Status.FAILED) & (F.col("retries") >= max_retries), 1
            ).otherwise(0)
        ).alias("dead"),
        F.count("*").alias("total"),
    ).collect()[0]
    total = num_items if num_items is not None else row["total"]
    return (row["done"] or 0) + (row["dead"] or 0) >= total


def recent_completed(frontier: DataFrame, k: int) -> DataFrame:
    """W3 getRecentCompleted (queue.model.ts:201-207): sort -crawled limit k.
    Physical plan: TakeOrderedAndProject (distributed partial top-k, no full
    sort)."""
    return (
        frontier.filter(F.col("status") == Status.COMPLETED)
        .orderBy(F.desc("crawled"), F.asc("seq"))
        .limit(k)
    )
