"""Round-3 surfaces: bucket sizing from the seed count, snapshot GC for longliving crawls, html carry-vs-strip page parity, the
item_key (F10 getKey) column, pandas-callable reenqueue predicates, the
sorted signed-safe streaming-dedup state, and toFixed-parity rounding."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.functions.format import format_bytes
from crawling_infrastructure_spark.operators.fetch import CrawlFunction
from crawling_infrastructure_spark.plans import epoch as epoch_mod
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.streaming.stream import streaming_dedup
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls


def test_job_sizes_buckets_from_seed_count(spark, corpus, tmp_path):
    cfg = TaskConfig(task_id="auto", max_items_per_second=5)  # frontier_buckets=None
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(4)))
    assert job.frontier_t.n_buckets == 1  # tiny seed list -> unbucketed
    # resume path reopens with the persisted layout whatever the config says
    job2 = CrawlJob(
        spark, str(tmp_path / "cat"), corpus,
        TaskConfig(task_id="auto", max_items_per_second=5, frontier_buckets=512),
        outcome_fn=fetch_outcome,
    )
    assert job2.frontier_t.n_buckets == 1


# -- F8 formatBytes toFixed parity -------------------------------------------

def test_format_bytes_half_up_matches_tofixed():
    # JS (2.5).toFixed(0) == '3'; Python round(2.5) == 2 — the half-up branch
    assert format_bytes(2560, 0) == "3 KB"
    assert format_bytes(int(2.5 * 1024**2), 0) == "3 MB"
    assert format_bytes(2048, 0) == "2 KB"


# -- U5 pandas-callable predicate (§2.10 arbitrary user code) ----------------

def test_reenqueue_pandas_callable_predicate(spark, corpus, tmp_path):
    import re

    cfg = TaskConfig(task_id="pcall", max_items_per_second=10)
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)
    job.run(seeds=seeds_from_list(spark, seed_urls(6)), max_epochs=2)
    pages = job.pages_t.read(spark).select("url", "text").collect()
    assert pages

    # backreference regex — arbitrary Python the Catalyst path can't take
    # as a callable; oracle computed per-row in plain Python
    pat = re.compile(r"\b(\w{4,})\b.*\b\1\b")
    expect = {r["url"] for r in pages if pat.search(r["text"] or "")}

    def predicate(pdf):
        return pdf["text"].fillna("").map(lambda t: bool(pat.search(t)))

    n_dry = job.reenqueue(predicate, dryrun=True)
    assert n_dry == len(expect)
    n = job.reenqueue(predicate)
    assert n == len(expect)
    if expect:
        f = job.frontier_t.read(spark)
        flipped = {
            r["url"]
            for r in f.filter((F.col("status") == 0) & (F.col("retries") == 0))
            .join(job.pages_t.read(spark).select("url").distinct(), "url", "left_semi")
            .select("url").collect()
        }
        assert expect <= flipped


# -- html carry vs strip: identical pages, item_key = getKey(url) ------------

def _run_once(spark, corpus, root, task_id):
    cfg = TaskConfig(task_id=task_id, max_items_per_second=10)
    job = CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome)
    history = job.run(seeds=seeds_from_list(spark, seed_urls(6)), max_epochs=2)
    return job, history


def test_carry_and_strip_modes_produce_identical_pages(spark, corpus, tmp_path, monkeypatch):
    carry, carry_hist = _run_once(spark, corpus, str(tmp_path / "c1"), "carry")
    # every epoch giant: strip html from the fetch pass, persist its output
    # DISK_ONLY and cache the light projection
    monkeypatch.setattr(epoch_mod, "_GIANT_EPOCH_ROWS", 0)
    strip, strip_hist = _run_once(spark, corpus, str(tmp_path / "c2"), "strip")
    assert carry_hist == strip_hist and carry_hist[0].claimed > 0

    def frontier(job):
        rows = job.frontier_t.read(spark).select("url_hash", "status", "retries")
        return {tuple(r) for r in rows.collect()}

    assert frontier(carry) == frontier(strip)
    cols = ["url", "item_key", "html", "text", "lang"]
    a = {r["url"]: r for r in carry.pages_t.read(spark).select(cols).collect()}
    b = {r["url"]: r for r in strip.pages_t.read(spark).select(cols).collect()}
    assert set(a) == set(b) and a
    for url, ra in a.items():
        rb = b[url]
        assert bytes(ra["html"] or b"") == bytes(rb["html"] or b"")
        assert ra["text"] == rb["text"] and ra["lang"] == rb["lang"]
        # F10: default getKey is md5(url) (crawler/src/worker.ts getKey)
        assert ra["item_key"] == hashlib.md5(url.encode()).hexdigest() == rb["item_key"]
        assert ra["html"]  # carry mode must actually deliver the bytes


def test_custom_get_key_reaches_pages(spark, corpus, tmp_path):
    cfg = TaskConfig(task_id="gk", max_items_per_second=5)
    job = CrawlJob(
        spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome,
        crawl_fn=CrawlFunction(get_key=lambda u: "k:" + u),
    )
    job.run(seeds=seeds_from_list(spark, seed_urls(4)), max_epochs=1)
    rows = job.pages_t.read(spark).select("url", "item_key").collect()
    assert rows and all(r["item_key"] == "k:" + r["url"] for r in rows)


# -- snapshot GC keeps a longliving crawl bounded (VERDICT r2 item 4) --------

def test_snapshot_gc_bounds_longliving_crawl(spark, corpus, tmp_path):
    n_epochs, gc_every, keep = 50, 4, 6
    cfg = TaskConfig(
        task_id="gc", max_items_per_second=1, epoch_seconds=3,  # budget 3/epoch
        longliving=True, snapshot_gc_epochs=gc_every, snapshot_keep=keep,
        # few seen shards so the bucket-carryover dir floor (see dir_bound
        # derivation below) stays well under the 50-epoch failure mode
        seen_buckets=8,
    )
    job = CrawlJob(
        spark, str(tmp_path / "cat"), corpus, cfg,
        outcome_fn=fetch_outcome, claim_snapshot=False,
    )
    job.init_task(seeds_from_list(spark, seed_urls(6)))
    for e in range(1, n_epochs + 1):
        s = job.run_epoch(e)
        assert s.claimed > 0, f"frontier drained at epoch {e}"

    # each table writes <=1 version/epoch here; GC every 4 keeping 6 bounds
    # the manifest to keep + (writes since last GC) + compaction + current,
    # NOT O(epochs)
    bound = keep + gc_every + 1
    # dirs ON DISK (named v_<version>_<uuid>, catalog._new_data_dir): the
    # append-mode tables would grow one dir per epoch forever without the
    # GC hook's size-tiered compaction (50 dirs here). With it:
    #   current version <= max_dirs(=keep+gc_every) + gc_every post-GC
    #   appends, plus <= gc_every pre-compaction dirs that stay referenced
    #   by not-yet-expired versions, plus the merged dir itself.
    # Merge-mode bucketed tables (seen) have a different constant floor:
    #   untouched buckets carry their dir by reference, so up to n_buckets
    #   roots from old merges stay referenced (one per bucket — the same
    #   >=1-file-per-partition floor an Iceberg table has), plus one root
    #   per kept version.
    # Both are O(keep + gc_every + n_buckets), independent of the 50 epochs.
    dir_bound = (keep + gc_every) + 2 * gc_every + 1
    assert cfg.seen_buckets + (keep + gc_every + 1) <= dir_bound
    for t in (job.frontier_t, job.pages_t, job.metrics_t, job.seen_t):
        versions = t.snapshots()
        assert len(versions) <= bound, f"{t.name}: {len(versions)} versions"
        data_dirs = [d for d in os.listdir(t.dir) if d.startswith("v_")]
        assert len(data_dirs) <= dir_bound, f"{t.name}: {len(data_dirs)} dirs on disk"

    # kill-resume still works after GC: heal + next epoch run fine
    job2 = CrawlJob(
        spark, str(tmp_path / "cat"), corpus,
        TaskConfig(task_id="gc", max_items_per_second=1, epoch_seconds=3,
                   longliving=True),
        outcome_fn=fetch_outcome, claim_snapshot=False,
    )
    h = job2.run(max_epochs=1)
    assert h and h[0].claimed > 0


# -- streaming dedup: signed hashes, sorted state across batches -------------

def test_streaming_dedup_negative_hashes_arrow_safe(spark, tmp_path):
    """xxhash64 is signed in Spark — ~half of real hashes are negative. With
    Arrow's safe-cast check enabled (the ADVICE repro), the old uint64 python
    -int emission failed LongType range validation; the sorted-state rewrite
    must emit signed int64. Three micro-batches hammer ONE bucket (all hashes
    ≡ 1 mod 4) to exercise the sorted-merge state update repeatedly."""
    path = str(tmp_path / "urls")
    os.makedirs(path)
    batches = [
        [("https://n.example/a", -3), ("https://n.example/b", 5)],
        [("https://n.example/a", -3), ("https://n.example/c", -7155306561916034031)],
        [("https://n.example/c", -7155306561916034031), ("https://n.example/d", 9)],
    ]
    prev = spark.conf.get("spark.sql.execution.pandas.convertToArrowArraySafely", "false")
    spark.conf.set("spark.sql.execution.pandas.convertToArrowArraySafely", "true")
    try:
        out_dir = str(tmp_path / "out")
        for rows in batches:
            spark.createDataFrame(rows, "url string, url_hash long").coalesce(1)\
                .write.mode("append").parquet(path)
            stream = spark.readStream.schema("url string, url_hash long").parquet(path)
            out = streaming_dedup(stream, n_buckets=4)
            q = (
                out.writeStream.format("parquet")  # resumable sink: batches
                .outputMode("append")              # accumulate across runs
                .option("path", out_dir)
                .option("checkpointLocation", str(tmp_path / "ck"))
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
        got = [r["url_hash"] for r in spark.read.parquet(out_dir).collect()]
        assert set(got) == {-3, 5, -7155306561916034031, 9}
        assert len(got) == 4  # every duplicate suppressed across batches
    finally:
        spark.conf.set("spark.sql.execution.pandas.convertToArrowArraySafely", prev)
