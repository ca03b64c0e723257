"""Table schemas + status enums.

Status codes are byte-compatible with the reference's ``QueueItemStatus``
(/root/reference/lib/types/queue.ts:13-18) and worker-meta ``WorkerStatus``
(/root/reference/lib/types/workermeta.ts:3-7) so that any count/aggregate we
produce can be compared number-for-number with the reference's Mongo queries.
"""

from __future__ import annotations

from pyspark.sql import types as T


# QueueItemStatus — lib/types/queue.ts:13-18
class Status:
    INITIAL = 0
    RUNNING = 1
    COMPLETED = 2
    FAILED = 3


# CrawlStatus (tasks) — lib/types/tasks.ts (started/completed/failed/paused)
class TaskStatus:
    STARTED = 0
    COMPLETED = 1
    FAILED = 2
    PAUSED = 3


# WorkerStatus — lib/types/workermeta.ts:3-7
class WorkerStatus:
    STARTED = 0
    COMPLETED = 1
    LOST = 2


# The URL frontier — the Spark re-expression of the per-task Mongo queue
# collection ``item_queue_<task_id>`` (lib/types/queue.ts:31-61). Extra
# columns vs the reference: url_hash/host/host_hash (bucketing + dedup keys),
# priority/seq (deterministic ordering contract), epoch_added (lineage).
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("retries", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),  # insertion sequence (ordering contract)
        T.StructField("crawled", T.TimestampType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("epoch_added", T.IntegerType(), False),
    ]
)

# Common-Crawl-style pages table — exactly the shape from BASELINE.json
# input_hint: (url:string, warc_ts:timestamp, html:binary, text:string,
# lang:string). This is both the crawl *corpus* (what the hermetic fetch UDF
# resolves URLs against) and the crawl *output* table.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Fetch-result frame emitted by the fetch UDF — mirrors what the reference's
# worker writes back per item (crawler/src/crawl_queue.ts:119-149): status,
# retries delta, error, plus the extracted payload destined for pages.
# item_key = CrawlFunction.get_key(url) — the reference's md5 item id the
# worker stores results under (F10, crawler/src/worker.ts getKey).
# html is populated only for completed rows and only when the epoch runs in
# carry mode (claims up to plans/epoch._GIANT_EPOCH_ROWS): one corpus scan
# per epoch, the pages append reads html from the persisted fetch output.
# Strip mode (giant epochs) emits NULL here and re-attaches html JVM-side —
# the Arrow round-trip of raw bytes doubles the Python stage's serialized volume.
FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("retries_delta", T.IntegerType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("outlinks", T.ArrayType(T.StringType()), True),
        T.StructField("bytes_fetched", T.LongType(), False),
        T.StructField("elapsed_ms", T.DoubleType(), False),
        T.StructField("item_key", T.StringType(), True),
        T.StructField("html", T.BinaryType(), True),
        # worker.getDebugInfo() analogue (handler.ts:178-180): populated on
        # FAILED rows only, and only when cfg.store_browser_debug — the
        # screenshot+DOM the reference attaches to failed items. screen_b64
        # is a deterministic sandbox stand-in (no browser in this
        # container); document is the page DOM at failure when one exists.
        T.StructField(
            "browser_debug",
            T.StructType(
                [
                    T.StructField("screen_b64", T.StringType(), True),
                    T.StructField("document", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

# Per-epoch, per-host-group metrics — the worker_meta analogue
# (lib/types/workermeta.ts:20-77): one row per (epoch, host group) instead of
# one Mongo doc per lambda invocation.
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("claimed", T.LongType(), False),
        T.StructField("completed", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("blocked", T.LongType(), False),
        T.StructField("bytes_fetched", T.LongType(), False),
        T.StructField("elapsed_ms", T.DoubleType(), False),
        T.StructField("avg_items_per_second", T.DoubleType(), True),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("bucket_id", T.IntegerType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("bloom", T.BinaryType(), False),
        # packed SORTED uint64 url_hashes (little-endian, 8 B/key): the
        # exact tier-2 membership store. Keeping it beside the bloom makes
        # the whole URL-seen check self-contained in the seen table — the
        # old tier-2 anti-join probed the frontier's url_hash column, an
        # O(frontier) shuffle per epoch at the 10^10 design point.
        T.StructField("hashes", T.BinaryType(), False),
    ]
)
