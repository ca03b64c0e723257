"""Spark jobs per crawl epoch and per resume as measured budgets, in both
frontier layouts: one bloom-prefiltered epoch on a fixed fixture must not
launch more jobs than it does with the one-pass seen admission
(operators/seen.filter_unseen), the new frontier rows riding the epoch's
one merge and the frontier's status sets read from the manifest. The
epoch runs as in production, with the pages append overlapped on a
sibling thread; that thread inherits the caller's job group, so one group
captures every job the epoch launches."""

import pytest

from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.plans import epoch as epoch_mod
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.schema import Status
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls
from tests.conftest import N_HOSTS

# measured with the frontier's status sets written by an Observation on
# each write; the per-write read-back of initial-row counts they replaced
# launched 34 (36 with the pre-merge growth aggregate, 47 before the
# one-pass seen admission)
MAX_JOBS = 31
# the single-bucket layout never ran that aggregate or read-back
MAX_JOBS_SINGLE_BUCKET = 27
# a resume with nothing to heal runs only the seen-set rebuild: the
# running buckets come from the manifest (a frontier scan found them
# before: 5 jobs)
MAX_RESUME_JOBS = 3
# healing a kill after the claim snapshot adds one bucket-pruned merge:
# its shuffle and its write
MAX_HEAL_JOBS = 2
GROUP = "job-budget"


def _jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _job(spark, corpus, tmp_path, frontier_buckets: int) -> CrawlJob:
    cfg = TaskConfig(
        task_id="jobs",
        max_items_per_second=3.0,
        epoch_seconds=10,
        max_items_per_host_per_epoch=8,
        frontier_buckets=frontier_buckets,
        seen_buckets=8,
    )
    return CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)


def _epoch_jobs(spark, corpus, tmp_path, frontier_buckets: int) -> int:
    job = _job(spark, corpus, tmp_path, frontier_buckets)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    stats, n_jobs = _jobs(spark, f"epoch-{GROUP}-{frontier_buckets}", lambda: job.run_epoch(1))
    assert stats.new_urls > 0, "the epoch must exercise the seen admission"
    return n_jobs


def test_bucketed_bloom_epoch_job_budget(spark, corpus, tmp_path):
    n_jobs = _epoch_jobs(spark, corpus, tmp_path, frontier_buckets=8)
    assert n_jobs <= MAX_JOBS, f"{n_jobs} jobs in one epoch (budget {MAX_JOBS})"


def test_single_bucket_bloom_epoch_job_budget(spark, corpus, tmp_path):
    n_jobs = _epoch_jobs(spark, corpus, tmp_path, frontier_buckets=1)
    assert n_jobs <= MAX_JOBS_SINGLE_BUCKET, (
        f"{n_jobs} jobs in one epoch (budget {MAX_JOBS_SINGLE_BUCKET})"
    )


@pytest.mark.parametrize("frontier_buckets", [1, 8])
def test_resume_job_budget(spark, corpus, tmp_path, monkeypatch, frontier_buckets):
    job = _job(spark, corpus, tmp_path, frontier_buckets)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    job.run_epoch(1)
    group = f"resume-{GROUP}-{frontier_buckets}"
    last, n_jobs = _jobs(spark, group, _job(spark, corpus, tmp_path, frontier_buckets).resume)
    assert last == 1
    assert n_jobs <= MAX_RESUME_JOBS, f"{n_jobs} jobs in resume (budget {MAX_RESUME_JOBS})"

    def killed(*args, **kwargs):
        raise RuntimeError("killed after the claim snapshot")

    monkeypatch.setattr(epoch_mod, "fetch_batch", killed)
    with pytest.raises(RuntimeError, match="killed"):
        job.run_epoch(2)
    monkeypatch.undo()
    assert job.frontier_t.buckets_with(Status.RUNNING)

    job2 = _job(spark, corpus, tmp_path, frontier_buckets)
    last, n_jobs = _jobs(spark, f"heal-{group}", job2.resume)
    assert last == 2 and job2.frontier_t.buckets_with(Status.RUNNING) == []
    budget = MAX_RESUME_JOBS + MAX_HEAL_JOBS
    assert n_jobs <= budget, f"{n_jobs} jobs in a healing resume (budget {budget})"
