"""Per-layer metrics of the traced pass, from its spans and stage ledger.

Times and Spark totals are per timed epoch (the total over the pass's timed
epochs divided by their count; warm-up epochs are left out), so that the
layer numbers add up to the epoch wall: epoch.wall_s = union of layer spans
+ epoch.driver_gap_s.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.trace import union_length

# name -> unit; every traced run reports all of them (0 where a layer does
# not run on the workload, e.g. the seen set on backfill)
PER_LAYER = {
    "claim.claim_batch_s": "s",
    "claim.rows": "count",
    "fetch.task_s": "s",
    "fetch.shuffle_write_bytes": "bytes",
    "catalog.metrics.append_s": "s",
    "catalog.frontier.commit_s": "s",
    "catalog.pages.append_s": "s",
    "catalog.pages.critical_path_s": "s",
    "catalog.seen.commit_s": "s",
    "catalog.gc_s": "s",
    "catalog.files_per_epoch": "count",
    "catalog.bytes_per_page": "bytes",
    "catalog.seen.rebuild_s": "s",
    "seen.filter_unseen_s": "s",
    "seen.admit_ratio": "ratio",
    "frontier.task_finished_s": "s",
    "epoch.wall_s": "s",
    "epoch.jobs": "count",
    "epoch.stages": "count",
    "epoch.tasks": "count",
    "epoch.driver_gap_s": "s",
    "spark.task_s": "s",
    "spark.effective_cores": "cores",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.task_skew": "ratio",
    "cpu.java_s": "s",
    "cpu.python_s": "s",
    "cpu.sys_s": "s",
}
# end-to-end metric -> unit. Traced runs report them as traced.<metric>:
# minus the same metric of untraced runs, they give the tracing overhead
E2E_UNITS = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "urls_per_s": "URLs/s",
    "epoch_p50_s": "s",
    "core_ms_per_page": "ms",
    "resume_s": "s",
    "rss_peak_gb": "GB",
}

# span name -> per-layer metric it sums into
SPAN_METRIC = {
    "claim.claim_batch": "claim.claim_batch_s",
    "catalog.metrics.append": "catalog.metrics.append_s",
    "catalog.frontier.merge_buckets": "catalog.frontier.commit_s",
    "catalog.frontier.write_full": "catalog.frontier.commit_s",
    "catalog.pages.append": "catalog.pages.append_s",
    "catalog.seen.merge_buckets": "catalog.seen.commit_s",
    "catalog.seen.write_full": "catalog.seen.commit_s",
    "seen.filter_unseen": "seen.filter_unseen_s",
    "frontier.task_finished": "frontier.task_finished_s",
}


def _epoch_of(label: str) -> int | None:
    scope = label.split(":", 1)[0]
    return int(scope[1:]) if scope[:1] == "e" and scope[1:].isdigit() else None


def per_layer(traced, spans: list[dict], stages: list[dict], jobs: dict) -> tuple[dict, list]:
    """(per-layer metrics, per-epoch wall = spans union + driver gap)."""
    n = max(len(traced.walls), 1)
    timed = {s.epoch for s in traced.stats}
    out = dict.fromkeys(PER_LAYER, 0.0)
    roots = {s["id"]: s for s in spans if s["parent"] is None}
    epoch_roots = {s["epoch"]: s for s in roots.values()
                   if s["name"] == "epoch" and s["epoch"] in timed}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["epoch"] in epoch_roots:
            children[s["epoch"]].append(s)
    gap, breakdown = [], []
    pages_critical = 0.0
    for e, root in epoch_roots.items():
        kids = children[e]
        for s in kids:
            metric = SPAN_METRIC.get(s["name"])
            if metric:
                out[metric] += s["end"] - s["start"]
            if s["name"].endswith((".compact_small", ".expire_snapshots")):
                out["catalog.gc_s"] += s["end"] - s["start"]
        wall = root["end"] - root["start"]
        covered = union_length([(s["start"], s["end"]) for s in kids])
        gap.append(wall - covered)
        breakdown.append({"epoch": e, "wall_s": wall, "spans_union_s": covered,
                          "driver_gap_s": wall - covered})
        for p in (s for s in kids if s["name"] == "catalog.pages.append"):
            if p["thread"] == root["thread"]:
                pages_critical += p["end"] - p["start"]
                continue
            # the part after the epoch thread's last span: its wait in join()
            main_end = max((s["end"] for s in kids
                            if s["thread"] == root["thread"] and s["start"] < p["end"]),
                           default=p["start"])
            pages_critical += max(0.0, p["end"] - max(main_end, p["start"]))
    for metric in set(SPAN_METRIC.values()) | {"catalog.gc_s"}:
        out[metric] /= n
    out["catalog.pages.critical_path_s"] = pages_critical / n
    out["epoch.driver_gap_s"] = sum(gap) / n
    out["epoch.wall_s"] = sum(traced.walls) / n
    rebuild = [s["end"] - s["start"] for s in spans if s["name"] == "catalog.seen.write_full"
               and s["parent"] in roots and roots[s["parent"]]["name"] == "resume"]
    out["catalog.seen.rebuild_s"] = statistics.median(rebuild) if rebuild else 0.0
    out["claim.rows"] = sum(s.claimed for s in traced.stats) / n
    out["catalog.files_per_epoch"] = sum(traced.files_per_epoch) / n
    out["catalog.bytes_per_page"] = traced.catalog_bytes / max(traced.completed, 1)
    # over the whole crawl: the pages table does not say which epoch wrote a row
    new_urls = sum(s.new_urls for s in traced.warmup_stats + traced.stats)
    out["seen.admit_ratio"] = new_urls / traced.outlinks if traced.outlinks else 0.0

    in_epochs = [r for r in stages if _epoch_of(r["label"]) in timed]
    fetch = [r for r in in_epochs if r["label"].endswith(":catalog.metrics.append")]
    out["fetch.task_s"] = sum(r["task_s"] for r in fetch) / n
    out["fetch.shuffle_write_bytes"] = sum(r["shuffle_write_bytes"] for r in fetch) / n
    out["epoch.jobs"] = sum(v for k, v in jobs.items() if _epoch_of(k) in timed) / n
    out["epoch.stages"] = len(in_epochs) / n
    out["epoch.tasks"] = sum(r["tasks"] for r in in_epochs) / n
    task_s = sum(r["task_s"] for r in in_epochs)
    out["spark.task_s"] = task_s / n
    out["spark.effective_cores"] = task_s / max(sum(traced.walls), 1e-9)
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms"):
        out[f"spark.{k}"] = sum(r[k] for r in in_epochs) / n
    out["spark.task_skew"] = max(
        (r["task_max_s"] / r["task_median_s"] for r in in_epochs
         if r["tasks"] > 1 and r["task_median_s"] > 0),
        default=1.0,
    )
    for k in ("java_s", "python_s", "sys_s"):
        out[f"cpu.{k}"] = traced.cpu.get(k, 0.0)
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in out.items()}, breakdown


def traced_end_to_end(e2e: dict[str, float]) -> dict:
    return {f"traced.{k}": {"value": e2e[k], "unit": unit} for k, unit in E2E_UNITS.items()}
