"""Structured Streaming surfaces (seed ingest, windowed progress, stateful
dedup) and the multi-task priority scheduler."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.catalog import suggest_buckets
from crawling_infrastructure_spark.config import (
    PRIORITY_ABSOLUTE,
    PRIORITY_RELATIVE,
    TaskConfig,
)
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.plans.scheduler import MultiTaskScheduler
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.streaming.stream import (
    run_seed_ingest,
    streaming_dedup,
    windowed_progress,
)
from crawling_infrastructure_spark.synth import fetch_outcome, host_name, seed_urls
from tests.conftest import N_HOSTS


def test_seed_stream_ingest_dedups_across_batches(spark, corpus, tmp_path):
    seeds_dir = tmp_path / "seeds_in"
    ckpt = tmp_path / "ckpt"
    os.makedirs(seeds_dir)
    cfg = TaskConfig(task_id="stream", max_items_per_second=1)
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)

    (seeds_dir / "batch1.txt").write_text("\n".join(seed_urls(4)) + "\n")
    run_seed_ingest(spark, str(seeds_dir), job, str(ckpt))
    n1 = job.frontier_t.read(spark).count()
    assert n1 == 4

    # second file: 2 duplicates + 2 new
    (seeds_dir / "batch2.txt").write_text("\n".join(seed_urls(6)) + "\n")
    run_seed_ingest(spark, str(seeds_dir), job, str(ckpt))
    n2 = job.frontier_t.read(spark).count()
    assert n2 == 6  # dedup across micro-batches

    # re-running with no new files must be a no-op (exactly-once source)
    run_seed_ingest(spark, str(seeds_dir), job, str(ckpt))
    assert job.frontier_t.read(spark).count() == 6


def test_seed_stream_first_batch_seeds_like_init_task(spark, corpus, tmp_path):
    """A stream that finds no frontier seeds the task as a seed list would:
    bucket count from the seed count (not the placeholder), region stamps,
    and a seen set holding exactly the frontier's hashes."""
    seeds_dir = tmp_path / "seeds_in"
    os.makedirs(seeds_dir)
    root = str(tmp_path / "cat")
    cfg = TaskConfig(task_id="stream_init", max_items_per_second=1, seen_buckets=4)
    regions = spark.createDataFrame(
        [(host_name(k), "eu-west-1") for k in range(4)], ["host", "region"]
    )
    job = CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome, region_map=regions)
    (seeds_dir / "batch1.txt").write_text("\n".join(seed_urls(4)) + "\n")
    run_seed_ingest(spark, str(seeds_dir), job, str(tmp_path / "ckpt"))

    n_buckets = suggest_buckets(4 * CrawlJob.SEED_GROWTH_FACTOR)
    assert CrawlJob(spark, root, corpus, cfg).frontier_t.n_buckets == n_buckets
    rows = job.frontier_t.read(spark).collect()
    assert len(rows) == 4 and {r.region for r in rows} == {"eu-west-1"}
    seen = set()
    for r in job.seen_t.read(spark).collect():
        seen |= set(np.frombuffer(bytes(r.hashes), dtype=np.int64).tolist())
    assert seen == {r.url_hash for r in rows}


def test_seed_stream_after_empty_first_batch(spark, corpus, tmp_path):
    """A first batch with no valid URL seeds an empty task; the next batch
    is admitted through the (empty) seen set with its region stamps."""
    seeds_dir = tmp_path / "seeds_in"
    os.makedirs(seeds_dir)
    cfg = TaskConfig(task_id="stream_empty", max_items_per_second=1, seen_buckets=4)
    regions = spark.createDataFrame(
        [(host_name(k), "eu-west-1") for k in range(4)], ["host", "region"]
    )
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, region_map=regions)
    (seeds_dir / "batch0.txt").write_text("not a url\nftp://x.example/\n")
    run_seed_ingest(spark, str(seeds_dir), job, str(tmp_path / "ckpt"))
    assert job.frontier_t.exists() and job.frontier_t.read(spark).count() == 0

    (seeds_dir / "batch1.txt").write_text("\n".join(seed_urls(4)) + "\n")
    run_seed_ingest(spark, str(seeds_dir), job, str(tmp_path / "ckpt"))
    rows = job.frontier_t.read(spark).collect()
    assert len(rows) == 4 and {r.region for r in rows} == {"eu-west-1"}
    seen = set()
    for r in job.seen_t.read(spark).collect():
        seen |= set(np.frombuffer(bytes(r.hashes), dtype=np.int64).tolist())
    assert seen == {r.url_hash for r in rows}


def test_seed_stream_ingest_through_seen_set(spark, corpus, tmp_path):
    """With a seen table (built by init_task) every micro-batch runs the
    one-pass seen admission: duplicates drop, the admitted hashes land in
    the seen shards, and an all-duplicate batch commits nothing."""
    seeds_dir = tmp_path / "seeds_in"
    ckpt = tmp_path / "ckpt"
    os.makedirs(seeds_dir)
    cfg = TaskConfig(task_id="stream_seen", max_items_per_second=1, seen_buckets=4)
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(4)))

    (seeds_dir / "batch1.txt").write_text("\n".join(seed_urls(6)) + "\n")
    run_seed_ingest(spark, str(seeds_dir), job, str(ckpt))
    hashes = [r.url_hash for r in job.frontier_t.read(spark).collect()]
    assert len(hashes) == len(set(hashes)) == 6
    seen = set()
    for r in job.seen_t.read(spark).collect():
        seen |= set(np.frombuffer(bytes(r.hashes), dtype=np.int64).tolist())
    assert seen == set(hashes)

    versions = (job.frontier_t.current_version(), job.seen_t.current_version())
    (seeds_dir / "batch2.txt").write_text("\n".join(seed_urls(3)) + "\n")
    run_seed_ingest(spark, str(seeds_dir), job, str(ckpt))
    assert (job.frontier_t.current_version(), job.seen_t.current_version()) == versions


def test_windowed_progress_availablenow(spark, tmp_path):
    events = spark.createDataFrame(
        [
            ("2026-01-01 00:01:00", "completed"),
            ("2026-01-01 00:04:00", "completed"),
            ("2026-01-01 00:15:00", "completed"),
            ("2026-01-01 00:16:00", "failed"),
        ],
        "ts_s string, event_type string",
    ).select(F.to_timestamp("ts_s").alias("ts"), "event_type")
    path = str(tmp_path / "ev")
    events.write.parquet(path)
    stream = spark.readStream.schema("ts timestamp, event_type string").parquet(path)
    out = windowed_progress(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("prog")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (str(r["window_start"]), r["event_type"]): r["cnt"]
        for r in spark.sql("SELECT * FROM prog").collect()
    }
    assert rows[("2026-01-01 00:00:00", "completed")] == 2
    assert rows[("2026-01-01 00:10:00", "completed")] == 1
    assert rows[("2026-01-01 00:10:00", "failed")] == 1


def test_streaming_dedup_stateful(spark, tmp_path):
    path = str(tmp_path / "urls")
    spark.createDataFrame(
        [("https://a.example/1", 11), ("https://a.example/1", 11), ("https://a.example/2", 22)],
        "url string, url_hash long",
    ).write.parquet(path)
    stream = spark.readStream.schema("url string, url_hash long").parquet(path)
    out = streaming_dedup(stream, n_buckets=4)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["url_hash"] for r in spark.sql("SELECT * FROM dedup_out").collect()}
    assert got == {11, 22}
    n = spark.sql("SELECT count(*) c FROM dedup_out").collect()[0]["c"]
    assert n == 2  # duplicate row suppressed by state


def _mk_job(spark, corpus, root, task_id, priority, rate=2.0):
    cfg = TaskConfig(
        task_id=task_id, max_items_per_second=rate, epoch_seconds=10, priority=priority
    )
    job = CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome, claim_snapshot=False)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    return job


def test_scheduler_absolute_only_top_priority_runs(spark, corpus, tmp_path):
    hi = _mk_job(spark, corpus, str(tmp_path), "hi", priority=9)
    lo = _mk_job(spark, corpus, str(tmp_path), "lo", priority=2)
    sched = MultiTaskScheduler([hi, lo], policy=PRIORITY_ABSOLUTE)
    ran = dict(sched.run_cycle())
    assert "hi" in ran and "lo" not in ran
    assert ran["hi"].claimed > 0


def test_scheduler_relative_splits_budget(spark, corpus, tmp_path):
    # rate 0.5 -> total budget 5/epoch; split 8:2 -> a gets 4, b gets 1
    # (N_HOSTS=6 seeds available, so both stay budget-bound, not drain-bound)
    a = _mk_job(spark, corpus, str(tmp_path), "a", priority=8, rate=0.5)
    b = _mk_job(spark, corpus, str(tmp_path), "b", priority=2, rate=0.5)
    sched = MultiTaskScheduler([a, b], policy=PRIORITY_RELATIVE)
    ran = dict(sched.run_cycle())
    assert set(ran) == {"a", "b"}
    assert ran["a"].claimed == 4
    assert ran["b"].claimed == 1
