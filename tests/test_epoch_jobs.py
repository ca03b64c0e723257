"""Spark jobs per crawl epoch and per resume as measured budgets, in both
frontier layouts: one bloom-prefiltered epoch on a fixed fixture must not
launch more jobs than it does with the one-pass seen admission
(operators/seen.filter_unseen), the new frontier rows riding the epoch's
one merge and the frontier's status sets read from the manifest. The
epoch runs as in production, with the pages append overlapped on a
sibling thread; that thread inherits the caller's job group, so one group
captures every job the epoch launches."""

import pytest

from crawling_infrastructure_spark.catalog import Table
from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.plans import epoch as epoch_mod
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.schema import Status
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls
from tests.conftest import N_HOSTS, frontier_hashes, kill_commit, seen_hashes

# measured with the frontier's status sets written by an Observation on
# each write; the per-write read-back of initial-row counts they replaced
# launched 34 (36 with the pre-merge growth aggregate, 47 before the
# one-pass seen admission)
MAX_JOBS = 31
# the single-bucket layout never ran that aggregate or read-back
MAX_JOBS_SINGLE_BUCKET = 27
# a resume with nothing to heal is manifest reads only: the running
# buckets, and the seen set's coverage of the frontier (a frontier scan
# plus a full seen-set rebuild ran 5 jobs, the rebuild alone 3)
MAX_RESUME_JOBS = 0
# healing a kill after the claim snapshot is one bucket-pruned merge, its
# shuffle and its write; the claim snapshot adds no url_hash, so the seen
# set stays in step
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
    assert n_jobs <= MAX_HEAL_JOBS, f"{n_jobs} jobs in a healing resume (budget {MAX_HEAL_JOBS})"


@pytest.mark.parametrize("frontier_buckets", [1, 8])
def test_lagging_seen_repair_reads_only_new_frontier_dirs(
    spark, corpus, tmp_path, monkeypatch, frontier_buckets
):
    """A kill between an epoch's frontier merge and its seen fold leaves
    the seen set covering an older frontier version. resume() folds in
    only the frontier dirs written since that version, never rebuilding
    the seen set from the whole frontier."""
    job = _job(spark, corpus, tmp_path, frontier_buckets)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    job.run_epoch(1)
    kill_commit(monkeypatch, "seen", "epoch-2")
    with pytest.raises(RuntimeError, match="killed"):
        job.run_epoch(2)
    monkeypatch.undo()
    covered = job.seen_t.head()["meta"]["covers"]
    assert covered < job.frontier_t.current_version()
    known = next(
        set(Table._version_dirs(v)) for v in job.frontier_t.snapshots() if v["version"] == covered
    )
    added = {d for d in job.frontier_t._current_dirs() if d not in known}

    reads: list[list[str]] = []
    read_dirs = Table._read_dirs

    def spy(self, spark_, dirs, schema):
        if self.name == job.frontier_t.name:
            reads.append(list(dirs))
        return read_dirs(self, spark_, dirs, schema)

    def rebuild(*args, **kwargs):
        raise AssertionError("resume rebuilt the seen set from the whole frontier")

    monkeypatch.setattr(Table, "_read_dirs", spy)
    monkeypatch.setattr(epoch_mod, "build_seen", rebuild)
    assert _job(spark, corpus, tmp_path, frontier_buckets).resume() == 2
    monkeypatch.undo()
    assert len(reads) == 1 and set(reads[0]) == added
    assert seen_hashes(spark, job) == frontier_hashes(spark, job)


def test_resume_after_frontier_rollback_takes_seen_back(spark, corpus, tmp_path, monkeypatch):
    """A frontier rolled back by hand leaves the seen set covering commits
    the frontier no longer holds, so the URLs they admitted would never be
    admitted again. resume() makes the seen version covering the
    frontier's current again: manifest operations, no rebuild."""
    job = _job(spark, corpus, tmp_path, 8)
    job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
    job.run_epoch(1)
    epoch_1 = job.frontier_t.current_version()
    job.run_epoch(2)
    job.frontier_t.rollback(epoch_1)

    def rebuild(*args, **kwargs):
        raise AssertionError("resume rebuilt the seen set from the whole frontier")

    monkeypatch.setattr(epoch_mod, "build_seen", rebuild)
    job2 = _job(spark, corpus, tmp_path, 8)
    last, n_jobs = _jobs(spark, f"rollback-{GROUP}", job2.resume)
    assert last == 2 and n_jobs == 0
    assert job2.seen_t.head()["meta"]["covers"] == epoch_1
    assert seen_hashes(spark, job2) == frontier_hashes(spark, job2)
