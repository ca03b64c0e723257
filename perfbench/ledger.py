"""Fold an uncompressed, non-rolling Spark event log into a stage ledger.

Each job carries the ``spark.job.description`` label the tracer set on the
thread that submitted it; each stage is attributed to the first job that
lists it. One ledger row per (label, stage): task count, summed task time,
max and median task time, shuffle read/write bytes, spilled bytes and JVM GC
time.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {**CONF, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


def read_log(log_dir: str) -> list[dict]:
    """Events of the one application that wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def fold(events: list[dict]) -> tuple[list[dict], dict[str, int]]:
    """(ledger rows, number of jobs started under each label)."""
    stage_label: dict[int, str] = {}
    jobs_by_label: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[dict]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get("spark.job.description") or "unlabelled"
            jobs_by_label[label] += 1
            for sid in ev.get("Stage IDs", []):
                stage_label.setdefault(sid, label)
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(ev)
    rows = []
    for sid, evs in sorted(tasks.items()):
        times, shuffle_r, shuffle_w, spill, gc = [], 0, 0, 0, 0
        for ev in evs:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            times.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            rd = m.get("Shuffle Read Metrics") or {}
            shuffle_r += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            gc += m.get("JVM GC Time", 0)
        rows.append({
            "label": stage_label.get(sid, "unlabelled"),
            "stage": sid,
            "tasks": len(times),
            "task_s": sum(times),
            "task_max_s": max(times),
            "task_median_s": statistics.median(times),
            "shuffle_read_bytes": shuffle_r,
            "shuffle_write_bytes": shuffle_w,
            "spill_bytes": spill,
            "gc_ms": gc,
        })
    return rows, dict(jobs_by_label)
