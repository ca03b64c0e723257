"""Spark jobs per crawl epoch as a measured budget, in both frontier
layouts: one bloom-prefiltered epoch on a fixed fixture must not launch
more jobs than it does with the one-pass seen admission
(operators/seen.filter_unseen) and the new frontier rows riding the
epoch's one merge. The epoch runs as in production, with the pages append
overlapped on a sibling thread; that thread inherits the caller's job
group, so one group captures every job the epoch launches."""

from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls
from tests.conftest import N_HOSTS

# measured with the new rows appended by the epoch merge; the pre-merge
# growth aggregate it replaced launched 36 (47 before the one-pass seen
# admission)
MAX_JOBS = 34
# the single-bucket layout never ran that aggregate
MAX_JOBS_SINGLE_BUCKET = 27
GROUP = "epoch-job-budget"


def _epoch_jobs(spark, corpus, tmp_path, frontier_buckets: int) -> int:
    cfg = TaskConfig(
        task_id="jobs",
        max_items_per_second=3.0,
        epoch_seconds=10,
        max_items_per_host_per_epoch=8,
        frontier_buckets=frontier_buckets,
        seen_buckets=8,
    )
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    sc = spark.sparkContext
    group = f"{GROUP}-{frontier_buckets}"
    sc.setJobGroup(group, "one bloom epoch")
    try:
        stats = job.run_epoch(1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats.new_urls > 0, "the epoch must exercise the seen admission"
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bucketed_bloom_epoch_job_budget(spark, corpus, tmp_path):
    n_jobs = _epoch_jobs(spark, corpus, tmp_path, frontier_buckets=8)
    assert n_jobs <= MAX_JOBS, f"{n_jobs} jobs in one epoch (budget {MAX_JOBS})"


def test_single_bucket_bloom_epoch_job_budget(spark, corpus, tmp_path):
    n_jobs = _epoch_jobs(spark, corpus, tmp_path, frontier_buckets=1)
    assert n_jobs <= MAX_JOBS_SINGLE_BUCKET, (
        f"{n_jobs} jobs in one epoch (budget {MAX_JOBS_SINGLE_BUCKET})"
    )
