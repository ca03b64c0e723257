"""Round-4 surfaces (VERDICT r3 next-round items):

1. O(batch) claim stage — manifest-maintained per-bucket initial counts
   (catalog.BucketedTable stat_filter/stat_counts) + per-host local-top-k
   pre-reduction (operators.claim._local_topk). The scale path must be
   row-for-row identical to the plain window path.
2. Append-table compaction (Table.compact_small / BucketedTable
   .compact_small) bounding data dirs for longliving crawls.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawling_infrastructure_spark.catalog import Catalog
from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.operators.claim import claim_batch
from crawling_infrastructure_spark.operators.frontier import frontier_rows
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.schema import FRONTIER_SCHEMA, Status
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import fetch_outcome, seed_urls

INITIAL_FILTER = f"status = {int(Status.INITIAL)}"


def _toy_frontier(spark, n=3000, hosts=37):
    """Mixed-status frontier with varied priorities/epochs so the stratified
    claim has non-trivial strata and a real boundary stratum."""
    urls = [(f"https://h{i % hosts}.example/p{i}",) for i in range(n)]
    rows = frontier_rows(
        spark.createDataFrame(urls, "item string"), priority=1, epoch=0
    )
    return (
        rows.withColumn(
            "priority", (F.pmod(F.col("url_hash"), F.lit(5)) + 1).cast("int")
        )
        .withColumn("epoch_added", F.pmod(F.col("seq"), F.lit(3)).cast("int"))
        .withColumn(
            "status",
            F.when(
                F.pmod(F.col("url_hash"), F.lit(4)) == 0,
                F.lit(int(Status.COMPLETED)),
            )
            .otherwise(F.lit(int(Status.INITIAL)))
            .cast("int"),
        )
    )


# -- 1a. local-top-k claim identical to the plain window claim ---------------

def test_local_topk_claim_identical(spark):
    f = _toy_frontier(spark).repartition(7).cache()  # multiple partitions
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


# -- 1b. manifest stat counts maintained across write/merge/append -----------

def _actual_initial_counts(df, nb):
    rows = (
        df.filter(F.col("status") == Status.INITIAL)
        .groupBy(F.pmod(F.col("host_hash"), F.lit(nb)).cast("int").alias("b"))
        .count()
        .collect()
    )
    return {int(r["b"]): int(r["count"]) for r in rows}


def test_bucketed_stat_counts_maintained(spark, tmp_path):
    nb = 8
    cat = Catalog(str(tmp_path))
    t = cat.bucketed_table("f", nb, key="host_hash", stat_filter=INITIAL_FILTER)
    f = _toy_frontier(spark, 600, 13)
    t.write_full(f, tag="t0")
    expected = _actual_initial_counts(t.read(spark), nb)
    got = t.stat_counts()
    assert got is not None
    assert {b: n for b, n in got.items() if n} == expected

    # merge two dirty buckets flipping everything to completed: their counts
    # drop to 0, carried buckets keep their counts without any recount
    dirty = sorted(expected)[:2]
    fd = t.read_buckets(spark, dirty, FRONTIER_SCHEMA)
    t.merge_buckets(
        fd.withColumn("status", F.lit(int(Status.COMPLETED))), dirty, tag="flip"
    )
    got2 = t.stat_counts()
    assert got2 is not None
    for b in dirty:
        assert got2.get(b, 0) == 0
    for b, n in expected.items():
        if b not in dirty:
            assert got2[b] == n

    # append admits new initial rows: receiving buckets gain counts
    extra = frontier_rows(
        spark.createDataFrame(
            [(f"https://hx{i}.example/q{i}",) for i in range(40)], "item string"
        ),
        priority=1,
        epoch=1,
    )
    t.append(extra, tag="grow")
    got3 = t.stat_counts()
    grown = _actual_initial_counts(t.read(spark), nb)
    assert {b: n for b, n in got3.items() if n} == grown


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


# -- 2. compaction bounds append-table dirs ----------------------------------

def test_table_compact_small(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    t = cat.table("pages")
    for i in range(10):
        t.append(spark.range(i * 10, i * 10 + 10).toDF("id"), tag=f"e{i}")
    before = {r["id"] for r in t.read(spark).collect()}
    assert len(t._current_dirs()) == 10

    v = t.compact_small(spark, max_dirs=4)
    assert v is not None
    assert len(t._current_dirs()) <= 4
    assert {r["id"] for r in t.read(spark).collect()} == before
    # idempotent below the bound
    assert t.compact_small(spark, max_dirs=4) is None

    # pre-compaction snapshots stay readable until expiry (resume safety)...
    assert {r["id"] for r in t.read_version(spark, v - 1).collect()} == before
    # ...and expiry then actually deletes the merged-away dirs on disk
    t.expire_snapshots(keep_last=1)
    disk = [d for d in os.listdir(t.dir) if d.startswith("v_")]
    assert len(disk) <= 4
    assert {r["id"] for r in t.read(spark).collect()} == before


def test_bucketed_compact_small(spark, tmp_path):
    nb = 4
    cat = Catalog(str(tmp_path))
    t = cat.bucketed_table("seenish", nb, key="k", stat_filter=None)
    for i in range(6):
        t.append(
            spark.range(i * 20, i * 20 + 20).select(F.col("id").alias("k")),
            tag=f"b{i}",
        )
    before = {r["k"] for r in t.read(spark).collect()}
    assert any(len(d) > 2 for d in t._current_buckets().values())

    assert t.compact_small(spark, max_dirs=2) is not None
    assert all(len(d) <= 2 for d in t._current_buckets().values())
    assert {r["k"] for r in t.read(spark).collect()} == before
    assert t.compact_small(spark, max_dirs=2) is None


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
