"""Tiny-scale smoke test of every benchmark workload: one checked pass, one
traced pass, and every per-layer metric folded from its spans and event log.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

import pytest

from crawling_infrastructure_spark.session import get_spark
from perfbench import ledger, report
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, Runner, summary

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_tiny(tmp_path, monkeypatch, name):
    # Python workers unpickle the benchmark's outcome function
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    ))
    log_dir = str(tmp_path / "eventlog")
    # one session per workload: epoch labels repeat across workloads, and the
    # event log is complete only once the session has stopped
    spark = get_spark(app_name="perfbench-smoke", cpus=2, extra_conf=ledger.conf(log_dir))
    try:
        wl = WORKLOADS[name]
        # 40 claims per epoch, so the timed epochs still find work in 150 pages
        cfg = {**wl.cfg, "epoch_seconds": 0.2, "max_items_per_host_per_epoch": 10}
        wl = dataclasses.replace(wl, n_pages=150, n_hosts=6, weight=1, epochs=2, cfg=cfg)
        runner = Runner(spark, wl, seed=7, work_dir=str(tmp_path))
        plain = runner.run_pass()
        tracer = Tracer(spark)
        tracer.install()
        try:
            traced = runner.run_pass(traced=True)
        finally:
            tracer.uninstall()
    finally:
        spark.stop()
    for p in (plain, traced):
        assert len(p.resume_walls) >= Runner.RESUME_REPS
        assert p.attempted == wl.epochs + len(p.resume_walls)
        assert p.failed == 0
    e2e = summary([plain])
    assert all(v > 0 for v in e2e.values()), e2e

    rows, jobs = ledger.fold(ledger.read_log(log_dir))
    layers, breakdown = report.per_layer(traced, tracer.export(), rows, jobs)
    assert set(layers) == set(report.PER_LAYER)
    assert [b["epoch"] for b in breakdown] == [s.epoch for s in traced.stats]
    assert layers["epoch.jobs"]["value"] > 0
    assert layers["claim.claim_batch_s"]["value"] > 0
    # spans plus the driver gap account for the epoch wall
    covered = layers["epoch.wall_s"]["value"] - layers["epoch.driver_gap_s"]["value"]
    assert 0 < covered <= layers["epoch.wall_s"]["value"]


def test_fails_outside_a_checkout(tmp_path):
    """With only the benchmark's own files present, the command exits non-zero
    without printing a result."""
    subprocess.run(["cp", "-r", os.path.join(ROOT, "perfbench"), str(tmp_path)], check=True)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    for line in out.stdout.splitlines():
        with pytest.raises(ValueError):
            json.loads(line)
