"""Checkpoint/resume (replaces the reference's queue-healing U4/U7/U8) and
robots.txt filtering (north_rule addition)."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from crawling_infrastructure_spark.catalog import BucketedTable
from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.operators.claim import claim_batch, mark_running
from crawling_infrastructure_spark.operators.frontier import frontier_rows
from crawling_infrastructure_spark.operators.robots import RobotsCache, filter_allowed
from crawling_infrastructure_spark.plans import epoch as epoch_mod
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.schema import Status
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls
from tests.conftest import N_HOSTS


@pytest.mark.parametrize("frontier_buckets", [None, 8])
def test_kill_and_resume_heals_and_continues(spark, corpus, tmp_path, frontier_buckets):
    cfg = TaskConfig(
        task_id="resume", max_items_per_second=2, epoch_seconds=10,
        frontier_buckets=frontier_buckets,
    )
    job = CrawlJob(spark, str(tmp_path), corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    job.run_epoch(1)
    # simulate a kill mid-epoch-2: claim committed, fetch never finished
    f = job.frontier_t.read(spark)
    claimed = claim_batch(f, cfg)
    job.frontier_t.write_full(mark_running(f, claimed), tag="epoch-2-claim")
    running = job.frontier_t.read(spark).filter(F.col("status") == Status.RUNNING)
    assert running.count() > 0
    # the manifest names exactly the buckets resume must heal
    nb = job.frontier_t.n_buckets
    assert job.frontier_t.buckets_with(Status.RUNNING) == sorted(
        r["b"] for r in running.select(
            F.pmod(F.col("host_hash"), F.lit(nb)).cast("int").alias("b")
        ).distinct().collect()
    )

    # fresh process: resume heals running -> initial, continues at epoch 3
    job2 = CrawlJob(spark, str(tmp_path), corpus, cfg, outcome_fn=fetch_outcome)
    hist = job2.run(max_epochs=1)
    assert hist[0].epoch == 3
    assert job2.frontier_t.read(spark).filter(F.col("status") == Status.RUNNING).count() == 0
    assert job2.frontier_t.buckets_with(Status.RUNNING) == []
    assert hist[0].claimed == cfg.epoch_budget


def test_snapshot_rollback(spark, corpus, tmp_path):
    cfg = TaskConfig(task_id="rb", max_items_per_second=2, epoch_seconds=10)
    job = CrawlJob(spark, str(tmp_path), corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    v0 = job.frontier_t.current_version()
    job.run_epoch(1)
    assert job.frontier_t.current_version() > v0
    job.frontier_t.rollback(v0)
    f = job.frontier_t.read(spark)
    assert f.filter(F.col("status") != Status.INITIAL).count() == 0


def test_expire_snapshots_keeps_current(spark, corpus, tmp_path):
    cfg = TaskConfig(task_id="gc", max_items_per_second=1, epoch_seconds=10)
    job = CrawlJob(spark, str(tmp_path), corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    for e in range(1, 4):
        job.run_epoch(e)
    job.frontier_t.expire_snapshots(keep_last=2)
    assert len(job.frontier_t.snapshots()) <= 3
    assert job.frontier_t.read(spark).count() > 0  # current still readable


@pytest.mark.parametrize("kill_epoch", [1, 2])
def test_kill_in_epoch_merge_resumes_without_duplicate_pages(
    spark, corpus, tmp_path, monkeypatch, kill_epoch
):
    """A kill inside an epoch's frontier merge lands after the metrics and
    pages appends have committed; resume() must roll those back (epoch 1:
    drop the tables it created), or the re-crawl writes a second row per
    page."""
    # epoch-independent outcomes: the resumed run's epoch numbers are
    # shifted by the aborted epoch, and must not change what gets crawled
    outcome = lambda url, epoch: fetch_outcome(url, 0)  # noqa: E731
    cfg = TaskConfig(task_id="kill", max_items_per_second=2, epoch_seconds=10)
    seeds = seeds_from_list(spark, seed_urls(N_HOSTS))
    ref = CrawlJob(spark, str(tmp_path / "ref"), corpus, cfg, outcome_fn=outcome)
    ref_hist = ref.run(seeds=seeds, max_epochs=kill_epoch + 2)

    job = CrawlJob(spark, str(tmp_path / "kill"), corpus, cfg, outcome_fn=outcome)
    job.init_task(seeds)
    for epoch in range(1, kill_epoch):
        job.run_epoch(epoch)
    merge = BucketedTable.merge_buckets

    def killed(self, df, dirty, tag=None):
        if tag == f"epoch-{kill_epoch}":
            raise RuntimeError("killed inside the epoch merge")
        return merge(self, df, dirty, tag)

    monkeypatch.setattr(BucketedTable, "merge_buckets", killed)
    with pytest.raises(RuntimeError, match="killed"):
        job.run_epoch(kill_epoch)
    monkeypatch.undo()

    job2 = CrawlJob(spark, str(tmp_path / "kill"), corpus, cfg, outcome_fn=outcome)
    hist = job2.run(max_epochs=3)
    assert hist[0].epoch == kill_epoch + 1
    assert len(hist) == len(ref_hist) - (kill_epoch - 1)
    pages = job2.pages_t.read(spark).select("url").collect()
    assert len(pages) == len({r["url"] for r in pages})
    assert {r["url"] for r in pages} == {
        r["url"] for r in ref.pages_t.read(spark).select("url").collect()
    }
    assert job2.metrics_t.read(spark).filter(F.col("epoch") == kill_epoch).count() == 0


def test_frontier_dirs_stay_bounded_and_resume_with_keep_one(
    spark, corpus, tmp_path, monkeypatch
):
    """New rows append a dir to each unclaimed frontier bucket they land in;
    the epoch merge also rewrites every bucket already at _FRONTIER_MAX_DIRS,
    so no bucket ever holds more. Under snapshot_keep=1 the merge that folds
    them is the only frontier version left and must still name the epoch."""
    cfg = TaskConfig(
        task_id="gc1", max_items_per_second=1, epoch_seconds=2, frontier_buckets=8,
        snapshot_gc_epochs=1, snapshot_keep=1,
    )
    root = str(tmp_path)
    job = CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    over = BucketedTable.buckets_over
    folded: list[int] = []

    def spy(self, max_dirs):
        out = over(self, max_dirs)
        if self is job.frontier_t:
            folded.extend(out)
        return out

    monkeypatch.setattr(BucketedTable, "buckets_over", spy)
    for epoch in range(1, 9):
        job.run_epoch(epoch)
        dirs = [len(d) for d in job.frontier_t._current_buckets().values()]
        assert max(dirs) <= epoch_mod._FRONTIER_MAX_DIRS
        if folded:
            break
    assert folded, "no frontier bucket reached the dir bound"
    assert [v["tag"] for v in job.frontier_t.snapshots()] == [f"epoch-{epoch}"]
    reopened = CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome)
    assert reopened.resume() == epoch


def test_snapshot_gc_bounds_every_job_table(spark, corpus, tmp_path):
    """GC covers every table the job owns, the optional ones too: with GC
    every epoch and keep 1, each holds at most keep versions, at most
    keep + gc-interval dirs per bucket, and no data dir on disk that its
    kept version does not name; resume still finds the last epoch."""
    cfg = TaskConfig(
        task_id="gcall", max_items_per_second=10, epoch_seconds=2,
        snapshot_gc_epochs=1, snapshot_keep=1, neardup_pages=True,
        link_prioritize=True, store_browser_debug=True,
    )
    pool = spark.createDataFrame([
        Row(proxy=f"10.9.0.{i}:8080", proxy_fail_counter=0, last_used=i,
            obtain_counter=0, status="functional", block_counter=0, last_blocked=0)
        for i in range(4)
    ])
    eval_docs = spark.createDataFrame(
        [(0, "an evaluation document that no crawled page contains")],
        "doc_id long, text string",
    )
    root = str(tmp_path)

    def open_job():
        return CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome,
                        proxies=pool, eval_docs=eval_docs)

    job = open_job()
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    for epoch in (1, 2):
        job.run_epoch(epoch)
    tables = (
        job.frontier_t, job.seen_t, job.proxy_t, job.pages_t, job.metrics_t,
        job.debug_t, job.contam_t, job.neardup_pairs_t, job.neardup.table,
        job.hostgraph_t, job.hostrank_t,
    )
    for t in tables:
        versions = t.snapshots()
        assert len(versions) <= cfg.snapshot_keep, (t.name, len(versions))
        per_bucket = max(len(d) for d in t._current_buckets().values())
        assert per_bucket <= cfg.snapshot_keep + cfg.snapshot_gc_epochs, (t.name, per_bucket)
        named = {
            os.path.relpath(d, t.dir).split(os.sep)[0]
            for v in versions for d in t._version_dirs(v)
        }
        assert {e for e in os.listdir(t.dir) if e.startswith("v_")} == named, t.name
    assert open_job().resume() == 2


def test_robots_longest_match():
    cache = RobotsCache(
        {
            "h.example": [
                ("disallow", "/private"),
                ("allow", "/private/ok"),
                ("disallow", "/tmp"),
            ],
            "deny.example": [("disallow", "/")],
        }
    )
    assert cache.allowed("h.example", "/public")
    assert not cache.allowed("h.example", "/private/x")
    assert cache.allowed("h.example", "/private/ok/deep")  # longest match wins
    assert not cache.allowed("deny.example", "/anything")
    assert cache.allowed("unknown.example", "/x")  # default allow


def test_robots_filter_on_frontier(spark):
    items = [
        ("https://deny.example/a",),
        ("https://h.example/private/x",),
        ("https://h.example/public",),
    ]
    rows = frontier_rows(spark.createDataFrame(items, "item string"), 1, 0)
    cache = RobotsCache(
        {"deny.example": [("disallow", "/")], "h.example": [("disallow", "/private")]}
    )
    kept = filter_allowed(rows, spark, cache).select("url").collect()
    assert {r["url"] for r in kept} == {"https://h.example/public"}
