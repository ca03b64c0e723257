"""Spark jobs per crawl epoch as a measured budget: one bucketed,
bloom-prefiltered epoch on a fixed fixture must not launch more jobs than
it does with the one-pass seen admission (operators/seen.filter_unseen).
The epoch runs as in production, with the pages append overlapped on a
sibling thread; that thread inherits the caller's job group, so one group
captures every job the epoch launches."""

from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls
from tests.conftest import N_HOSTS

# measured with the one-pass seen admission; the three-cogroup seen path
# it replaced (and the schema-inferring stats read-back) launched 47
MAX_JOBS = 36
GROUP = "epoch-job-budget"


def test_bucketed_bloom_epoch_job_budget(spark, corpus, tmp_path):
    cfg = TaskConfig(
        task_id="jobs",
        max_items_per_second=3.0,
        epoch_seconds=10,
        max_items_per_host_per_epoch=8,
        frontier_buckets=8,
        seen_buckets=8,
    )
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "one bucketed + bloom epoch")
    try:
        stats = job.run_epoch(1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(GROUP))
    assert stats.new_urls > 0, "the epoch must exercise the seen admission"
    assert n_jobs <= MAX_JOBS, f"{n_jobs} jobs in one epoch (budget {MAX_JOBS})"
