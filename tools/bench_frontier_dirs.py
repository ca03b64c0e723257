"""Bucketed frontier cost over a long crawl: per-epoch wall, frontier
manifest size and data dirs per bucket under the default snapshot GC cadence.

The epoch merge rewrites the claim-side buckets and APPENDS new rows to every
other bucket as one more dir, so a bucket no claim reaches grows a dir list
that every claim read, frontier scan and manifest load has to walk. This
tool crawls many epochs with a small claim over many buckets (the shape where
claims reach few buckets and discoveries land in many) and prints one JSON
line per epoch, then a summary line.

Usage: python tools/bench_frontier_dirs.py [--epochs 20] [--buckets 128]
           [--rate 4] [--host-cap 2] [--pages 15000] [--hosts 300] [--cpus 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--epochs", type=int, default=20)
    ap.add_argument("--buckets", type=int, default=128)
    ap.add_argument("--rate", type=float, default=4.0, help="items/s; budget = 10 x rate")
    ap.add_argument("--host-cap", type=int, default=2)
    ap.add_argument("--pages", type=int, default=15000)
    ap.add_argument("--hosts", type=int, default=300)
    ap.add_argument("--cpus", type=int, default=4)
    a = ap.parse_args()

    from crawling_infrastructure_spark.config import TaskConfig
    from crawling_infrastructure_spark.plans.epoch import CrawlJob
    from crawling_infrastructure_spark.session import get_spark
    from crawling_infrastructure_spark.sources.seeds import seeds_from_list
    from crawling_infrastructure_spark.synth import fetch_outcome, gen_pages, seed_urls

    spark = get_spark(cpus=a.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = gen_pages(spark, a.pages, a.hosts, weight=1).cache()
    corpus.count()
    root = tempfile.mkdtemp(prefix="frontier_dirs_")
    cfg = TaskConfig(
        task_id="dirs", max_items_per_second=a.rate, epoch_seconds=10.0,
        max_items_per_host_per_epoch=a.host_cap, frontier_buckets=a.buckets,
        seen_buckets=8,
    )
    job = CrawlJob(spark, root, corpus, cfg, outcome_fn=fetch_outcome)
    job.init_task(seeds_from_list(spark, seed_urls(a.hosts)))
    walls = []
    try:
        for e in range(1, a.epochs + 1):
            t0 = time.perf_counter()
            s = job.run_epoch(e)
            walls.append(time.perf_counter() - t0)
            dirs = [len(d) for d in job.frontier_t._current_buckets().values()]
            t1 = time.perf_counter()
            rows = job.frontier_t.read(spark).count()
            print(json.dumps({
                "epoch": e, "wall_s": round(walls[-1], 3),
                "manifest_kb": round(os.path.getsize(job.frontier_t._manifest_path) / 1024, 1),
                "max_dirs": max(dirs), "mean_dirs": round(sum(dirs) / len(dirs), 2),
                "scan_s": round(time.perf_counter() - t1, 3), "frontier_rows": rows,
                "claimed": s.claimed, "new_urls": s.new_urls,
            }), flush=True)
        half = len(walls) // 2
        print(json.dumps({
            "first_half_wall_s": round(sum(walls[:half]) / max(1, half), 3),
            "second_half_wall_s": round(sum(walls[half:]) / max(1, len(walls) - half), 3),
        }))
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
