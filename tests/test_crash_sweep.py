"""Crash-point sweep: a kill at any one catalog commit of an epoch, then
resume() and a run to the uninterrupted crawl's epoch count, must end in
the uninterrupted crawl's state.

Both frontier layouts run the scale path's epoch: bloom seen set, claim
snapshot, snapshot GC every epoch keeping one version. The kill lands in
epoch 3, the first epoch whose GC compacts the pages table, at each commit
the epoch makes: the claim snapshot, the metrics and pages appends, the
frontier merge, the seen fold, the pages compaction and the frontier and
seen snapshot expiry. The outcomes do not depend on the epoch number: a
resumed crawl skips the number of the epoch the kill cut short, and that
must not change what gets crawled.
"""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.schema import Status
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls
from tests.conftest import N_HOSTS, frontier_hashes, kill_commit, seen_hashes

REF_EPOCHS = 4
KILL_EPOCH = 3
LAYOUTS = {"bucketed": 8, "single": 1}
COMMITS = [
    ("frontier", f"epoch-{KILL_EPOCH}-claim"),
    ("metrics", f"epoch-{KILL_EPOCH}"),
    ("pages", f"epoch-{KILL_EPOCH}"),
    ("frontier", f"epoch-{KILL_EPOCH}"),
    ("seen", f"epoch-{KILL_EPOCH}"),
    ("pages", f"epoch-{KILL_EPOCH}-compact"),
    ("frontier", "expire"),
    ("seen", "expire"),
]


def _outcome(url, epoch):
    return fetch_outcome(url, 0)


def _job(spark, corpus, root, frontier_buckets: int) -> CrawlJob:
    cfg = TaskConfig(
        task_id="sweep",
        max_items_per_second=3.0,
        epoch_seconds=10,
        max_items_per_host_per_epoch=8,
        frontier_buckets=frontier_buckets,
        seen_buckets=8,
        snapshot_gc_epochs=1,
        snapshot_keep=1,
    )
    return CrawlJob(spark, str(root), corpus, cfg, outcome_fn=_outcome)


def _final(spark, job) -> set[tuple[int, int, int]]:
    return {
        (r.url_hash, r.status, r.retries)
        for r in job.frontier_t.read(spark).select("url_hash", "status", "retries").collect()
    }


def _clone(src: Path, dst: Path) -> None:
    """Copy a catalog; its manifests name data dirs by absolute path."""
    shutil.copytree(src, dst)
    for manifest in dst.glob("*/_manifest.json"):
        manifest.write_text(manifest.read_text().replace(str(src), str(dst)))


@pytest.fixture(scope="module")
def reference(spark, corpus, tmp_path_factory):
    """Per layout: (catalog after the epochs before the kill, final state
    of the uninterrupted crawl)."""
    out = {}
    for layout, nb in LAYOUTS.items():
        base = tmp_path_factory.mktemp(f"sweep-{layout}")
        job = _job(spark, corpus, base / "ref", nb)
        job.init_task(seeds_from_list(spark, seed_urls(N_HOSTS)))
        for epoch in range(1, REF_EPOCHS + 1):
            if epoch == KILL_EPOCH:
                _clone(base / "ref", base / "prefix")
            assert job.run_epoch(epoch).claimed > 0, "every reference epoch must claim"
        out[layout] = (base / "prefix", _final(spark, job))
    return out


@pytest.mark.parametrize("table,tag", COMMITS, ids=[f"{t}:{g}" for t, g in COMMITS])
@pytest.mark.parametrize("layout", LAYOUTS)
def test_kill_at_commit_then_resume_matches_uninterrupted(
    spark, corpus, tmp_path, monkeypatch, reference, layout, table, tag
):
    prefix, final = reference[layout]
    root = tmp_path / "cat"
    _clone(prefix, root)
    job = _job(spark, corpus, root, LAYOUTS[layout])
    kill_commit(monkeypatch, table, tag)
    with pytest.raises(RuntimeError, match="killed"):
        job.run_epoch(KILL_EPOCH)
    monkeypatch.undo()

    job = _job(spark, corpus, root, LAYOUTS[layout])
    last = job.resume()
    done = job.metrics_t.read(spark).select("epoch").distinct().count()
    for epoch in range(last + 1, last + 1 + REF_EPOCHS - done):
        assert job.run_epoch(epoch).claimed > 0

    frontier = job.frontier_t.read(spark)
    completed = {
        r.url for r in frontier.filter(F.col("status") == Status.COMPLETED).collect()
    }
    pages = [r.url for r in job.pages_t.read(spark).select("url").collect()]
    assert len(pages) == len(completed) and set(pages) == completed
    assert seen_hashes(spark, job) == frontier_hashes(spark, job)
    metrics = job.metrics_t.read(spark)
    assert metrics.select("epoch").distinct().count() == REF_EPOCHS
    assert metrics.count() == metrics.select("epoch", "host").distinct().count()
    assert frontier.filter(F.col("status") == Status.RUNNING).count() == 0
    assert _final(spark, job) == final
