"""Round-4 surfaces (VERDICT r3 next-round items): the O(batch) claim
stage — per-host local-top-k pre-reduction (operators.claim._local_topk),
row-for-row identical to the plain window path, and the bucket-pruned
claim epoch equal to the single-bucket one. The manifest stat counts it
prunes with are tested in test_catalog.py."""

from __future__ import annotations

from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.operators.claim import claim_batch
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls
from tests.conftest import toy_frontier


# -- 1a. local-top-k claim identical to the plain window claim ---------------

def test_local_topk_claim_identical(spark):
    f = toy_frontier(spark).repartition(7).cache()  # multiple partitions
    try:
        for cap, budget in [(3, 10), (3, 50), (7, 333), (5, 10_000), (4, 0)]:
            cfg = TaskConfig(
                task_id="topk", max_items_per_host_per_epoch=cap,
            )
            plain, n_plain = claim_batch(f, cfg, with_count=True, budget=budget)
            fast, n_fast = claim_batch(
                f, cfg, with_count=True, budget=budget, local_topk=True
            )
            rows_p = {tuple(r) for r in plain.collect()}
            rows_f = {tuple(r) for r in fast.collect()}
            assert n_plain == n_fast, (cap, budget)
            # identical row sets INCLUDING host_rank: per-host top-k survives
            # the local reduction exactly, so ranks computed on survivors
            # equal the global ranks
            assert rows_p == rows_f, (cap, budget, len(rows_p), len(rows_f))
            assert len(rows_p) == n_plain
    finally:
        f.unpersist()


# -- 1c. bucketed epoch loop (pruned claim path) == single-bucket loop -------

def test_bucketed_claim_epoch_equivalence(spark, corpus, tmp_path):
    def run(nb, root):
        cfg = TaskConfig(
            task_id="eq", max_items_per_second=5, epoch_seconds=2,
            retry_failed_items=1, frontier_buckets=nb,
        )
        job = CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome)
        job.run(seeds=seeds_from_list(spark, seed_urls(12)), max_epochs=4)
        front = {
            (r["url"], r["status"], r["retries"])
            for r in job.frontier_t.read(spark).collect()
        }
        pages = {r["url"] for r in job.pages_t.read(spark).collect()}
        return front, pages

    f1, p1 = run(1, str(tmp_path / "a"))
    f8, p8 = run(8, str(tmp_path / "b"))
    assert f1 == f8
    assert p1 == p8


def test_claim_only_matches_budget(spark, corpus, tmp_path):
    cfg = TaskConfig(
        task_id="co", max_items_per_second=3, epoch_seconds=2,
        frontier_buckets=8,
    )
    job = CrawlJob(spark, str(tmp_path / "cat"), corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(20)))
    assert job.run_epoch(1).claimed == cfg.epoch_budget


# ---------------------------------------------------------------------------
# P6 update-field whitelist (crawltask.service.ts:923-1000)


def test_update_task_whitelist_and_validation():
    from crawling_infrastructure_spark.config import TaskConfig, update_task
    import pytest as _pytest

    cfg = TaskConfig(task_id="t", priority=1)

    # allowed direct fields apply; original untouched (immutability)
    new = update_task(cfg, {"priority": 7, "retry_failed_items": 2,
                            "longliving": True})
    assert (new.priority, new.retry_failed_items, new.longliving) == (7, 2, True)
    assert (cfg.priority, cfg.longliving) == (1, False)

    # non-whitelisted keys silently dropped (reference: update built from
    # allowed keys only, never 400s on extras)
    new = update_task(cfg, {"task_id": "hijack", "epoch_seconds": 1e9})
    assert new.task_id == "t" and new.epoch_seconds == cfg.epoch_seconds

    # whitelisted-but-lambda-specific keys round-trip via extra
    new = update_task(cfg, {"status": "paused", "name": "x",
                            "whitelisted_proxies": ["1.2.3.4"]})
    assert new.extra["status"] == "paused"
    assert new.extra["whitelisted_proxies"] == ["1.2.3.4"]

    # ||-validated ranges genuinely enforced (ts:945-949, 985-989)
    for bad in ({"retry_failed_items": 11}, {"retry_failed_items": "3"},
                {"num_lost_workers": 1001}):
        with _pytest.raises(ValueError):
            update_task(cfg, bad)

    # the &&-quirk group: out-of-range numbers PASS (always-false
    # conjunction in ts:951-981), non-numbers fail
    assert update_task(cfg, {"max_workers": 99999}).extra["max_workers"] == 99999
    assert update_task(cfg, {"max_items_per_worker": 700}).max_items_per_worker == 700
    with _pytest.raises(ValueError):
        update_task(cfg, {"max_workers": "lots"})

    # falsy values skip validation entirely (`if (update.x)`)
    assert update_task(cfg, {"retry_failed_items": 0}).retry_failed_items == 0

    # booleans are not numbers (typeof true !== 'number')
    with _pytest.raises(ValueError):
        update_task(cfg, {"priority": True})

    # num_workers_running is a genuine || (ts:970-974): negatives rejected
    with _pytest.raises(ValueError):
        update_task(cfg, {"num_workers_running": -1})
    assert update_task(cfg, {"num_workers_running": 3}).extra[
        "num_workers_running"] == 3

    # name must be a string of max length 200 (ts:989-993)
    with _pytest.raises(ValueError):
        update_task(cfg, {"name": "x" * 201})
    with _pytest.raises(ValueError):
        update_task(cfg, {"name": 42})
    assert update_task(cfg, {"name": "x" * 200}).extra["name"] == "x" * 200
