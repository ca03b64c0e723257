"""Round-2 surfaces: U5 predicate re-enqueue, §2.10 CrawlFunction hooks,
F12/F13 adaptive budget, JVM robots parity, U6 pause/resume and J2
regions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.operators.fetch import CrawlFunction
from crawling_infrastructure_spark.operators.frontier import assign_regions, frontier_rows
from crawling_infrastructure_spark.operators.robots import (
    ROBOTS_SCHEMA,
    RobotsCache,
    filter_allowed,
)
from crawling_infrastructure_spark.plans.adaptive import (
    adaptive_epoch_budget,
    adaptive_num_items,
    max_workers_concurrently_running,
)
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.plans.scheduler import MultiTaskScheduler
from crawling_infrastructure_spark.schema import Status
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import seed_urls


def _job(spark, corpus, tmp_path, name, **cfg_kw):
    cfg = TaskConfig(task_id=name, max_items_per_second=10, **cfg_kw)
    return CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg)


# -- U5 predicate re-enqueue -------------------------------------------------

def test_reenqueue_by_predicate(spark, corpus, tmp_path):
    job = _job(spark, corpus, tmp_path, "re1")
    job.run(seeds=seeds_from_list(spark, seed_urls(6)), max_epochs=2)
    f0 = job.frontier_t.read(spark)
    completed0 = f0.filter(F.col("status") == Status.COMPLETED).count()
    assert completed0 > 0

    # dryrun counts without mutating
    n_dry = job.reenqueue("length(text) >= 0", dryrun=True)
    assert n_dry > 0
    assert job.frontier_t.read(spark).filter(
        F.col("status") == Status.COMPLETED
    ).count() == completed0

    # re-enqueue everything crawled: matching completed rows flip to initial
    # with the exact updateItems reset payload
    n = job.reenqueue("length(text) >= 0")
    assert n == n_dry
    f1 = job.frontier_t.read(spark)
    flipped = f1.filter((F.col("status") == Status.INITIAL) & F.col("crawled").isNull())
    assert f1.filter(F.col("status") == Status.COMPLETED).count() == 0
    re_rows = f1.join(
        job.pages_t.read(spark).select("url").distinct(), "url", "left_semi"
    )
    assert re_rows.filter(
        (F.col("status") != Status.INITIAL) | (F.col("retries") != 0)
        | F.col("crawled").isNotNull() | (F.col("error") != "")
    ).count() == 0
    # and the next epoch re-crawls them
    s = job.run_epoch(99)
    assert s.claimed > 0


def test_reenqueue_no_match_is_noop(spark, corpus, tmp_path):
    job = _job(spark, corpus, tmp_path, "re2")
    job.run(seeds=seeds_from_list(spark, seed_urls(4)), max_epochs=1)
    v0 = job.frontier_t.current_version()
    assert job.reenqueue("text = 'no such text ever'") == 0
    assert job.frontier_t.current_version() == v0  # no snapshot written


# -- §2.10 CrawlFunction hooks -------------------------------------------------

def test_crawl_function_custom_extract_and_outlinks(spark, corpus, tmp_path):
    fn = CrawlFunction(
        extract=lambda html: "X" + str(len(html)),
        outlinks=lambda html: [],
    )
    cfg = TaskConfig(task_id="cf1", max_items_per_second=10)
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, crawl_fn=fn)
    hist = job.run(seeds=seeds_from_list(spark, seed_urls(5)), max_epochs=2)
    pages = job.pages_t.read(spark)
    texts = [r["text"] for r in pages.select("text").collect()]
    assert texts and all(t.startswith("X") for t in texts)
    # outlinks hook returned nothing -> no frontier growth
    assert all(s.new_urls == 0 for s in hist)


def test_crawl_function_default_get_key_is_md5():
    import hashlib

    fn = CrawlFunction()
    assert fn.get_key("https://a.example/x") == hashlib.md5(
        b"https://a.example/x"
    ).hexdigest()


# -- F12/F13 adaptive budget ---------------------------------------------------

def _ref_get_num_items(history, max_items_per_worker=None):
    """Pure-Python port of runner.ts:302-329 (http worker)."""
    num_items = 30
    if len(history) >= 7:
        avg = sum(history) / len(history)
        if avg <= 0:
            avg = 0.5
        num_items = int(240 / (1 / avg))
    if max_items_per_worker:
        num_items = min(num_items, max_items_per_worker)
    return num_items


def _ref_max_workers(history, max_items_per_second):
    """Pure-Python port of crawltask.model.ts:449-478 (http worker)."""
    avg = (sum(history) / len(history)) if history else 0.5
    if avg < 0.01:
        avg = 0.01
    n = max_items_per_second / avg
    return 1 if n <= 1 else int(n)


@pytest.mark.parametrize(
    "history,rate,cap",
    [
        ([], 10.0, None),
        ([2.0] * 3, 10.0, None),            # below 7 measurements
        ([2.0] * 8, 10.0, None),            # trusted average
        ([0.001] * 9, 10.0, None),          # MIN_AVG_IPS floor
        ([0.0] * 7, 10.0, None),            # avg <= 0 fallback in num_items
        ([5.0] * 20, 200.0, 30),            # max_items_per_worker clamp
        ([0.3] * 7, 1.0, None),             # workers floor at 1
    ],
)
def test_adaptive_matches_reference_arithmetic(history, rate, cap):
    n, avg = len(history), (sum(history) / len(history) if history else None)
    assert adaptive_num_items(n, avg, cap) == _ref_get_num_items(history, cap)
    assert max_workers_concurrently_running(n, avg, rate) == _ref_max_workers(
        history, rate
    )
    assert adaptive_epoch_budget(n, avg, rate, cap) == min(
        _ref_max_workers(history, rate), 500
    ) * _ref_get_num_items(history, cap)


def test_adaptive_budget_drives_epoch_claims(spark, corpus, tmp_path):
    # epoch 1 has no metrics -> assumed 0.5 ips per worker
    # (crawltask.model.ts:454) -> workers = 0.4/0.5 <= 1 -> 1 worker x
    # num_items_http=30; later epochs read measured throughput
    cfg = TaskConfig(
        task_id="ad1",
        max_items_per_second=0.4,
        adaptive_budget=True,
        max_items_per_host_per_epoch=1000,
    )
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg)
    job.init_task(seeds_from_list(spark, seed_urls(120)))
    s1 = job.run_epoch(1)
    assert s1.claimed == 30  # 1 worker x num_items_http (no measurements yet)
    # epoch 2's budget is fully determined by the recorded metrics; the
    # remaining frontier (>= 90 initial rows) always covers it
    expected2 = job._adaptive_budget()
    s2 = job.run_epoch(2)
    assert s2.claimed == expected2


# -- JVM robots parity -----------------------------------------------------------

ROBOTS_RULES = {
    "a.example": [("disallow", "/private"), ("allow", "/private/ok")],
    "b.example": [("disallow", "/")],
    "t.example": [("disallow", "/x"), ("allow", "/x")],  # tie -> allow wins
}


def test_robots_jvm_matches_python_oracle(spark):
    urls = [
        "https://a.example/private/ok/page",
        "https://a.example/private/no",
        "https://a.example/public",
        "https://b.example/anything",
        "https://b.example/",
        "https://c.example/free",
        "https://t.example/x/tied",
    ]
    cache = RobotsCache(ROBOTS_RULES)
    rows = frontier_rows(
        spark.createDataFrame([(u,) for u in urls], ["item"]), priority=1, epoch=0
    )
    kept_jvm = {r["url"] for r in filter_allowed(rows, spark, cache).collect()}
    kept_py = {
        r["url"]
        for r in rows.collect()
        if cache.allowed(r["host"], r["url"].split(r["host"], 1)[1] or "/")
    }
    assert kept_jvm == kept_py
    assert "https://a.example/private/ok/page" in kept_jvm
    assert "https://a.example/private/no" not in kept_jvm
    assert "https://b.example/anything" not in kept_jvm
    assert "https://c.example/free" in kept_jvm
    assert "https://t.example/x/tied" in kept_jvm  # RFC 9309 tie -> allow


def test_robots_no_python_udf_in_plan(spark):
    cache = RobotsCache(ROBOTS_RULES)
    rows = frontier_rows(
        spark.createDataFrame([("https://a.example/p",)], ["item"]), 1, 0
    )
    plan = filter_allowed(rows, spark, cache)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_robots_cache_from_df_roundtrip(spark):
    cache = RobotsCache(ROBOTS_RULES)
    again = RobotsCache.from_df(cache.to_df(spark))
    assert again.rules == cache.rules


# -- U6 pause/resume ---------------------------------------------------------------

def test_scheduler_pause_resume(spark, corpus, tmp_path):
    cfgs = [
        TaskConfig(task_id="p1", max_items_per_second=5, priority=5),
        TaskConfig(task_id="p2", max_items_per_second=5, priority=5),
    ]
    jobs = []
    for c in cfgs:
        j = CrawlJob(spark, str(tmp_path / "cat"), corpus, c)
        j.init_task(seeds_from_list(spark, seed_urls(6)))
        jobs.append(j)
    sched = MultiTaskScheduler(jobs, policy="relative")
    sched.pause("p2")
    out = dict(sched.run_cycle())
    assert "p1" in out and "p2" not in out
    sched.resume("p2")
    out2 = dict(sched.run_cycle())
    assert "p2" in out2
    # pause-all (pauseTasks semantics)
    sched.pause()
    assert sched.run_cycle() == []


# -- J2 region assignment ------------------------------------------------------------

def test_assign_regions_broadcast_join(spark):
    rows = frontier_rows(
        spark.createDataFrame(
            [("https://a.example/1",), ("https://b.example/2",), ("https://c.example/3",)],
            ["item"],
        ),
        1,
        0,
    )
    rmap = spark.createDataFrame(
        [("a.example", "us-east-1"), ("b.example", "eu-west-1")], ["host", "region"]
    )
    got = {r["host"]: r["region"] for r in assign_regions(rows, rmap).collect()}
    assert got == {"a.example": "us-east-1", "b.example": "eu-west-1", "c.example": ""}
