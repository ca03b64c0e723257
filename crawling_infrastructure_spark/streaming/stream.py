"""Structured Streaming surfaces — SURVEY.md §2.9.

The reference's streaming-shaped behaviors and their Spark mappings:

- daemon heartbeat loop (daemon.ts:61-79, 10 s)      -> micro-batch trigger
- longliving tasks fed by external POST /enqueue     -> file-source seed
  stream feeding the frontier via foreachBatch (dedup inside each batch
  commit, so exactly-once admission per canonical url)
- progress windows (completed per 10m/60m/...)       -> watermarked windowed
  aggregation over the metrics/event stream
- URL-seen across an unbounded stream                -> applyInPandasWithState
  custom stateful operator (per-bucket seen-set state)

Everything here triggers with ``availableNow`` in tests — hermetic, no
timers — but the same code runs with a processing-time trigger unbounded.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from crawling_infrastructure_spark.operators.frontier import (
    FRONTIER_COLS,
    assign_regions,
    frontier_rows,
)
from crawling_infrastructure_spark.operators.robots import filter_allowed
from crawling_infrastructure_spark.operators.seen import SHARD, admitted_rows, seen_shards
from crawling_infrastructure_spark.plans.epoch import CrawlJob

SEED_STREAM_SCHEMA = T.StructType([T.StructField("value", T.StringType(), True)])


def seed_stream(spark: SparkSession, seeds_dir: str) -> DataFrame:
    """Unbounded seed source: every new file dropped into ``seeds_dir`` is a
    POST /enqueue (queue.service.ts:29-59 / enqueue.ts:91-116 analogue)."""
    return (
        spark.readStream.schema(SEED_STREAM_SCHEMA)
        .text(seeds_dir)
        .select(F.trim(F.col("value")).alias("item"))
        .filter(F.col("item") != "")
    )


def run_seed_ingest(
    spark: SparkSession,
    seeds_dir: str,
    job: CrawlJob,
    checkpoint_dir: str,
) -> None:
    """Stream seeds into the frontier with exactly-once, deduped admission.

    foreachBatch gives us the batch DataFrame + a monotonically increasing
    batch_id. The batch that finds no frontier seeds the task through
    ``job.init_task`` (regions, robots, bucket sizing, the seen set), as a
    seed list would. Every later batch runs the SAME admission plan the
    epoch loop uses — region stamps, robots filter, then, when the job keeps
    a seen set, the
    one-pass seen admission (operators/seen.filter_unseen: one cached
    tagged frame of admitted rows + folded seen shards). The admitted rows
    land as a *bucket append* (catalog.Table.append), so per-batch write
    volume is O(batch), never O(frontier); the shards then commit over
    their seen buckets, naming the frontier version they cover, so an
    epoch interleaved with the stream finds the streamed URLs in the seen
    set and the dedup stays EXACT, and ``job.resume()`` folds in a batch
    killed between its two commits. Without a seen set the batch
    anti-joins the frontier.
    """

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        if not job.frontier_t.exists():
            job.init_task(batch_df)
            return
        rows = frontier_rows(batch_df, job.cfg.priority, epoch=0)
        if job.region_map is not None:
            rows = assign_regions(rows, job.region_map)
        if job.cfg.respect_robots:
            rows = filter_allowed(rows, spark, job.robots)
        tag = f"stream-batch-{batch_id}"
        if job.cfg.dedup and job.cfg.bloom_prefilter:
            tagged = job._admit_unseen(rows).cache()
            grow = tagged.agg(
                F.count(F.when(~F.col(SHARD), 1)).alias("n"),
                F.collect_set(F.when(F.col(SHARD), F.col("bucket_id"))).alias("seen_bkts"),
            ).collect()[0]
            if grow["n"]:
                covers = {"covers": job.frontier_t.append(
                    admitted_rows(tagged).select(*FRONTIER_COLS), tag=tag
                )}
                job.seen_t.merge_buckets(
                    seen_shards(tagged), sorted(grow["seen_bkts"]), tag=tag, meta=covers
                )
            tagged.unpersist()
            return
        current = job.frontier_t.read(spark)
        rows = rows.join(current.select("url_hash"), "url_hash", "left_anti")
        rows = rows.select(*FRONTIER_COLS).cache()
        if rows.count():
            job.frontier_t.append(rows, tag=tag)
        rows.unpersist()

    q = (
        seed_stream(spark, seeds_dir)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_progress(events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window completed-counts — the streaming version
    of getTaskProgress (queue.model.ts:172-199). Late rows beyond the
    watermark are dropped, matching the reference's 'progress snapshot at
    heartbeat time' semantics."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming URL-seen dedup
# ---------------------------------------------------------------------------

_DEDUP_OUT = T.StructType(
    [
        T.StructField("bucket_id", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
    ]
)
# per-bucket state = ONE packed little-endian uint64 array (8 bytes/hash)
# instead of a Python list of boxed ints (~28 bytes/hash + list overhead):
# the state row stays a flat binary blob the state store moves untouched.
_DEDUP_STATE = T.StructType([T.StructField("seen", T.BinaryType(), True)])


def _dedup_fn(key, pdf_iter, state: GroupState):
    import pandas as pd

    packed = state.get[0] if state.exists else None
    # state invariant: SORTED packed uint64 array. Membership is then a
    # binary search (O(batch log state)) instead of np.isin's per-batch
    # re-sort of the whole state, and the insert is one O(state) memmove —
    # the same order as the unavoidable state re-serialization.
    seen = (
        np.frombuffer(packed, dtype=np.uint64)
        if packed is not None and len(packed)
        else np.empty(0, dtype=np.uint64)
    )
    # legacy-state guard: a checkpoint written by the pre-sorted (append-
    # order) version of this operator violates the sorted invariant, and
    # searchsorted against it would silently re-emit duplicates / drop fresh
    # urls on resume. Verify once per state load — O(state) compare, the
    # same order as the unavoidable deserialization — and sort only if dirty.
    if len(seen) > 1 and (seen[:-1] > seen[1:]).any():
        seen = np.sort(seen)
    out_url: list = []
    out_hash: list = []
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        h = pdf["url_hash"].to_numpy().astype(np.uint64)
        # first-occurrence-in-batch dedup; uniq is sorted
        uniq, first_idx = np.unique(h, return_index=True)
        # vectorized membership vs the sorted state
        pos = np.searchsorted(seen, uniq)
        present = np.zeros(len(uniq), dtype=bool)
        inb = pos < len(seen)
        present[inb] = seen[pos[inb]] == uniq[inb]
        if not present.all():
            keep_idx = np.sort(first_idx[~present])  # original batch order
            out_url.extend(pdf["url"].to_numpy()[keep_idx])
            # emit as SIGNED int64: xxhash64 is signed in Spark, and the
            # uint64 view is state-internal only — unsigned values >= 2^63
            # would fail Arrow's LongType range check
            out_hash.extend(h[keep_idx].astype(np.int64))
            fresh = uniq[~present]  # sorted
            seen = np.insert(seen, np.searchsorted(seen, fresh), fresh)
    state.update((seen.tobytes(),))
    if out_url:
        yield pd.DataFrame(
            {
                "bucket_id": [int(key[0])] * len(out_url),
                "url": out_url,
                "url_hash": np.asarray(out_hash, dtype=np.int64),
            }
        )


def streaming_dedup(urls: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Exactly-once URL admission over an unbounded stream: bucket by hash,
    keep per-bucket seen-set state in the state store
    (applyInPandasWithState). The streaming twin of operators/seen.py.

    State is a SORTED packed uint64 array (8 bytes per hash). Sizing: raise
    ``n_buckets`` so one bucket's state stays small — at 10^10 URLs and
    n_buckets=4096 each state row is ~20 MB, which the HDFS-backed state
    store snapshots incrementally. Membership is a vectorized binary search
    against the sorted state (O(batch log state) per bucket per batch) and
    admission is one in-order insert — the per-batch cost beyond the state
    store's own re-serialization is sublinear in state size."""
    bucketed = urls.withColumn(
        "bucket_id", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )
    return bucketed.groupBy("bucket_id").applyInPandasWithState(
        _dedup_fn,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def run_neardup_admission(
    spark: SparkSession,
    docs_dir: str,
    store,
    texts_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming content-level near-dup admission: every parquet file of
    (doc_id, text) dropped into ``docs_dir`` is a micro-batch folded into a
    persistent ``operators.neardup.NearDupStore`` — the streaming twin of
    the epoch loop's ``cfg.neardup_pages`` path, the way ``streaming_dedup``
    twins the URL-seen set.

    Per micro-batch (exactly the incremental operator's contract):
    detected pairs — new-vs-history AND within-batch — append to
    ``pairs_dir``; the batch's texts append to ``texts_dir`` (the history
    the verification stage semi-joins against; only candidate-referenced
    rows are ever read); the batch's LSH band rows are admitted into the
    store by ``fold`` itself. The union of all micro-batch pair outputs
    equals the batch operator on the concatenated corpus
    (tests/test_streaming_and_scheduler.py pins it through this surface;
    tests/test_neardup_incremental.py pins the operator underneath).

    ``availableNow`` + ``maxFilesPerTrigger`` in tests (hermetic, multiple
    genuine micro-batches); unbounded with a processing-time trigger in
    production. Checkpointed: a replayed batch re-derives the same pairs
    (deterministic sketch) and re-appends — downstream consumers dedup on
    (doc_a, doc_b), which fold's normalized orientation makes stable."""
    import os

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(F.col("doc_id").cast("long"), "text").cache()
        try:
            if not batch.count():
                return
            hist = None
            if os.path.isdir(texts_dir) and any(
                f.endswith(".parquet") for f in os.listdir(texts_dir)
            ):
                hist = spark.read.parquet(texts_dir)
            pairs = store.fold(
                batch, history_texts=hist, tag=f"stream-batch-{batch_id}"
            )
            pairs.write.mode("append").parquet(pairs_dir)
            batch.write.mode("append").parquet(texts_dir)
        finally:
            store.release()
            batch.unpersist()

    reader = spark.readStream.schema(DOC_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(docs_dir)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
