"""The benchmark's crawl workloads: seeded inputs, timed crawl passes, and the
oracle check of every pass.

The program receives only generated inputs. The seed drives the two random
choices the benchmark makes: the salt of the injected fetch outcomes
(``salted_outcome``, passed to the program as ``outcome_fn``) and the order
of the seed list. The corpus shape is ``synth``'s.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from crawling_infrastructure_spark.config import TaskConfig
from crawling_infrastructure_spark.functions.html import extract_links
from crawling_infrastructure_spark.plans.epoch import CrawlJob
from crawling_infrastructure_spark.schema import Status
from crawling_infrastructure_spark.sources.seeds import seeds_from_list
from crawling_infrastructure_spark.synth import (
    _zipf_cdf,
    fetch_outcome,
    gen_pages,
    page_html,
    seed_urls,
)

from perfbench import proc


def salted_outcome(salt: int, url: str, epoch: int = 0) -> str:
    """``synth.fetch_outcome`` with a per-seed salt: same 85/5/5/5 outcome
    mix, a different draw per seed. Module-level so Python workers can
    unpickle it."""
    return fetch_outcome(f"{url}|salt{salt}", epoch)


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_hosts: int
    weight: int          # synth paragraph repeat factor: 1 ~ 1.3 KB, 20 ~ 6.5 KB html
    epochs: int          # timed epochs per crawl pass
    warmup_epochs: int   # untimed epochs before them: the JVM is cold
    claim_all: bool      # seed every corpus url (backfill) or the host roots
    claim_snapshot: bool
    cfg: dict = field(default_factory=dict)

    def config(self) -> TaskConfig:
        return TaskConfig(task_id=self.name, **self.cfg)


# Claim-all seeding of heavy pages (~6.5 KB html): the fetch/extract Arrow
# pass, the pages write and the single-bucket merge do most of the work and
# per-epoch fixed cost is amortised. A fetch- or write-path change shows
# here; the seen set is idle (no bloom), so a seen-set change should not.
_BACKFILL_BUDGET = 1500
BACKFILL = Workload(
    name="backfill",
    n_pages=5 * _BACKFILL_BUDGET, n_hosts=60, weight=20,
    epochs=3, warmup_epochs=2, claim_all=True, claim_snapshot=False,
    cfg=dict(
        max_items_per_second=200.0,
        epoch_seconds=_BACKFILL_BUDGET / 200.0,
        max_items_per_host_per_epoch=_BACKFILL_BUDGET,
        retry_failed_items=1,
        frontier_buckets=1,
        bloom_prefilter=False,
    ),
)
# BFS from the host roots on the default scale path: bucketed frontier,
# bloom-prefiltered seen set, robots, claim snapshots, and snapshot GC every
# epoch. Epochs claim a few hundred URLs, so per-epoch fixed cost
# (~50 Spark jobs: claim, dirty-bucket merges, seen fold, catalog commits,
# driver gaps) dominates: the workload for job fusion and seen/commit work.
DISCOVERY = Workload(
    name="discovery",
    n_pages=4000, n_hosts=60, weight=1,
    epochs=2, warmup_epochs=1, claim_all=False, claim_snapshot=True,
    cfg=dict(
        max_items_per_second=200.0,
        epoch_seconds=10.0,
        max_items_per_host_per_epoch=20,
        frontier_buckets=8,
        seen_buckets=8,
        snapshot_gc_epochs=1,
        snapshot_keep=2,
    ),
)
WORKLOADS = {w.name: w for w in (BACKFILL, DISCOVERY)}


@dataclass
class PassResult:
    init_s: float
    warmup_stats: list = field(default_factory=list)
    walls: list[float] = field(default_factory=list)
    stats: list = field(default_factory=list)
    epoch_ok: list[bool] = field(default_factory=list)
    resume_walls: list[float] = field(default_factory=list)
    resume_ok: list[bool] = field(default_factory=list)
    cpu: dict = field(default_factory=dict)
    files_per_epoch: list[int] = field(default_factory=list)
    catalog_bytes: int = 0
    outlinks: int = 0  # links extracted from the completed pages

    @property
    def attempted(self) -> int:
        return len(self.epoch_ok) + len(self.resume_ok)

    @property
    def failed(self) -> int:
        return self.epoch_ok.count(False) + self.resume_ok.count(False)

    @property
    def completed(self) -> int:
        return sum(s.completed for s in self.stats)

    @property
    def urls(self) -> int:
        return sum(s.claimed + s.new_urls for s in self.stats)


class Runner:
    """One workload in one Spark session: inputs generated once, then any
    number of crawl passes, each on a fresh catalog."""

    # resumes per pass: at least RESUME_REPS, and until RESUME_S seconds are
    # spent, so the median of a sub-second resume rests on enough samples
    RESUME_REPS = 3
    RESUME_S = 2.0

    def __init__(self, spark, wl: Workload, seed: int, work_dir: str):
        self.spark, self.wl, self.work_dir = spark, wl, work_dir
        self.outcome = functools.partial(salted_outcome, seed)
        rng = random.Random(seed)
        self.corpus = gen_pages(spark, wl.n_pages, wl.n_hosts, weight=wl.weight).cache()
        self.corpus.count()
        if wl.claim_all:
            urls = [r.url for r in self.corpus.select("url").collect()]
        else:
            urls = seed_urls(wl.n_hosts)
        rng.shuffle(urls)
        self.seed_list = urls
        self._oracle = None
        self._html = None
        self._passes = 0

    # -- inputs for the checks ------------------------------------------------
    def html_by_url(self) -> dict[str, str]:
        if self._html is None:
            cdf = _zipf_cdf(self.wl.n_hosts)
            self._html = {}
            for i in range(self.wl.n_pages):
                url, html, _ = page_html(i, self.wl.n_pages, self.wl.n_hosts, cdf, self.wl.weight)
                self._html[url] = html
        return self._html

    def oracle(self):
        """OracleCrawl run under the same config, outcomes and seed list."""
        if self._oracle is None:
            from tests.reference_oracle import OracleCrawl

            o = OracleCrawl(corpus=self.html_by_url(), cfg=self.wl.config(),
                            outcome_fn=self.outcome)
            o.seed(self.seed_list)
            last = self.wl.warmup_epochs + self.wl.epochs
            hist = [o.run_epoch(e) for e in range(1, last + 1)]
            self._oracle = (o, hist)
        return self._oracle

    # -- one crawl pass -------------------------------------------------------
    def run_pass(self, traced: bool = False) -> PassResult:
        """One crawl on a fresh catalog: init_task, the untimed warm-up
        epochs, the timed epochs, the oracle check, then reopen + resume().
        Only the timed epochs and the resumes count as operations. ``traced``
        also counts catalog files, catalog bytes and extracted outlinks."""
        wl = self.wl
        self._passes += 1
        root = os.path.join(self.work_dir, f"catalog-{self._passes}")
        shutil.rmtree(root, ignore_errors=True)
        job = self._job(root)
        seeds = seeds_from_list(self.spark, self.seed_list)
        t0 = time.perf_counter()
        job.init_task(seeds)
        res = PassResult(init_s=time.perf_counter() - t0)
        last = wl.warmup_epochs + wl.epochs
        cpu0 = files = None
        for e in range(1, last + 1):
            timed = e > wl.warmup_epochs
            if timed and cpu0 is None:
                cpu0 = proc.cpu_sample()
                files = _files(root) if traced else None
            t0 = time.perf_counter()
            try:
                s = job.run_epoch(e)
            except Exception as exc:  # counted as a failed operation
                print(f"[perfbench] epoch {e} raised: {exc!r}", flush=True)
                res.epoch_ok = [False] * wl.epochs
                return res
            wall = time.perf_counter() - t0
            if not timed:
                res.warmup_stats.append(s)
                continue
            res.walls.append(wall)
            res.stats.append(s)
            res.epoch_ok.append(True)
            if files is not None:
                now = _files(root)
                res.files_per_epoch.append(len(now - files))
                files = now
        res.cpu = proc.cpu_delta(cpu0, proc.cpu_sample())
        res.epoch_ok = self._check(job, res)
        if traced:
            res.catalog_bytes = _tree_bytes(root)
            html = self.html_by_url()
            res.outlinks = sum(
                len(extract_links(html[r.url]))
                for r in job.pages_t.read(self.spark).select("url").collect()
            )
        # an epoch that claims nothing commits nothing, so resume() reports
        # the last epoch that claimed
        committed = max((s.epoch for s in res.warmup_stats + res.stats if s.claimed), default=0)
        while (len(res.resume_ok) < self.RESUME_REPS
               or sum(res.resume_walls) < self.RESUME_S):
            t0 = time.perf_counter()
            try:
                resumed = self._job(root).resume()
            except Exception as exc:  # a broken catalog: stop resuming
                print(f"[perfbench] resume raised: {exc!r}", flush=True)
                res.resume_ok.append(False)
                break
            res.resume_walls.append(time.perf_counter() - t0)
            res.resume_ok.append(resumed == committed)
        if res.resume_walls:
            running = job.frontier_t.read(self.spark).filter(
                F.col("status") == Status.RUNNING).count()
            if running:
                res.resume_ok[-1] = False
        return res

    def _job(self, root: str) -> CrawlJob:
        return CrawlJob(self.spark, root, self.corpus, self.wl.config(),
                        outcome_fn=self.outcome, claim_snapshot=self.wl.claim_snapshot)

    # -- correctness ----------------------------------------------------------
    def _check(self, job: CrawlJob, res: PassResult) -> list[bool]:
        """Verdicts for the timed epochs. backfill: pages.text byte-identical
        to the corpus text per url, pages rows == completed. discovery:
        OracleCrawl per-epoch (claimed, completed, failed, blocked,
        new_urls), final seen set and final (status, retries). A warm-up
        epoch mismatch fails the first timed epoch, a final-state mismatch
        the last one."""
        ok = list(res.epoch_ok)
        stats = res.warmup_stats + res.stats
        if self.wl.claim_all:
            pages = job.pages_t.read(self.spark).select("url", "text")
            n_pages = pages.count()
            completed = sum(s.completed for s in stats)
            bad = (
                pages.join(self.corpus.select("url", F.col("text").alias("want")), "url", "left")
                .filter(F.col("want").isNull() | (F.col("text") != F.col("want")))
                .count()
            )
            if bad or n_pages != completed:
                print(f"[perfbench] backfill check: {bad} text mismatches, "
                      f"{n_pages} pages vs {completed} completed", flush=True)
                ok = [False] * len(ok)
            return ok
        oracle, hist = self.oracle()
        for i, (s, o) in enumerate(zip(stats, hist)):
            got = (s.claimed, s.completed, s.failed, s.blocked, s.new_urls)
            want = (o["claimed"], o.get("completed", 0), o.get("failed", 0),
                    o.get("blocked", 0), o.get("new_urls", 0))
            if got != want:
                print(f"[perfbench] epoch {i + 1}: engine {got} != oracle {want}", flush=True)
                ok[max(i - len(res.warmup_stats), 0)] = False
        rows = job.frontier_t.read(self.spark).select("url", "status", "retries").collect()
        got = {r["url"]: (r["status"], r["retries"]) for r in rows}
        want = {u: (int(r.status), r.retries) for u, r in oracle.frontier.items()}
        if got != want:
            print(f"[perfbench] final frontier differs from oracle: "
                  f"{len(got.keys() ^ want.keys())} urls differ in the seen set", flush=True)
            ok[-1] = False
        return ok


def _files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in _files(root) if os.path.exists(p))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def summary(passes: list[PassResult]) -> dict[str, float]:
    """End-to-end metrics over the timed epochs and resumes of ``passes``
    (0 where every operation failed)."""
    wall = sum(w for p in passes for w in p.walls)
    completed = sum(p.completed for p in passes)
    cpu_s = sum(p.cpu.get("cpu_s", 0.0) for p in passes)
    return {
        "pages_per_s": completed / wall if wall else 0.0,
        "urls_per_s": sum(p.urls for p in passes) / wall if wall else 0.0,
        "epoch_p50_s": _median([w for p in passes for w in p.walls]),
        "core_ms_per_page": 1000.0 * cpu_s / completed if completed else 0.0,
        "resume_s": _median([w for p in passes for w in p.resume_walls]),
    }
