#!/usr/bin/env python3
"""Crawl-loop benchmark for crawling_infrastructure_spark.

    python3 perfbench/run.py --workload {backfill,discovery} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One driver process, Spark ``local[<cores>]``,
closed loop: each epoch starts when the previous one has finished. After
input generation, crawl passes repeat until ``--seconds`` have elapsed. A
pass is one crawl on a fresh catalog: init_task, untimed warm-up epochs (the
JVM is cold), the timed epochs, the oracle check, then reopen + ``resume()``.
Passes are never cut short, so a run can last longer than ``--seconds``.

--trace 0 prints the end-to-end metrics. --trace 1 runs one pass with the
Spark event log on and the layer calls wrapped (trace.py), and prints the
per-layer metrics (report.py) together with the end-to-end metrics of that
traced pass as ``traced.<metric>``: the tracing overhead of a metric is
``traced.<metric>`` of a traced run minus ``<metric>`` of an untraced run.
Spans, the stage ledger and a run record are written under ``.perfbench/``
in the working directory.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(tmp: str, mem_gb: float) -> None:
    """Session hygiene: Python workers must import the package from the
    checkout; the driver heap is sized to the box (the program's default is
    48g); Spark, the JVM and Python keep their scratch files under ``tmp``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(8, int(mem_gb / 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # PerfDisableSharedMem: no hsperfdata file under the system /tmp
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["TMPDIR"] = tmp
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)


def _stop(spark) -> None:
    """Stop Spark, then the py4j JVM, and wait until every process this one
    started (the JVM, the PySpark daemon and its workers) has ended."""
    from pyspark import SparkContext

    from perfbench import proc

    started = proc.tree_pids()
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 60
    while (left := [p for p in started if proc.alive(p)]) and time.time() < deadline:
        time.sleep(0.2)
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # fails outside a checkout of the repository, before any result is printed
    import crawling_infrastructure_spark  # noqa: F401

    from perfbench import ledger, proc, report
    from perfbench.workloads import WORKLOADS, Runner, summary

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    out_dir = os.path.join(
        ROOT, ".perfbench", f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    tmp = os.path.join(out_dir, "tmp")
    shutil.rmtree(out_dir, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    _environment(tmp, proc.mem_total_gb())
    record: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                    "cores": cores, "load1_before": proc.loadavg1()}

    from crawling_infrastructure_spark.session import get_spark

    log_dir = os.path.join(out_dir, "eventlog")
    spark = get_spark(
        app_name=f"perfbench-{wl.name}", cpus=cores,
        extra_conf=ledger.conf(log_dir) if args.trace else None,
    )
    session_s = time.perf_counter() - T_PROCESS
    try:
        t0 = time.perf_counter()
        runner = Runner(spark, wl, args.seed, out_dir)
        gen_s = time.perf_counter() - t0
        deadline = time.perf_counter() + args.seconds
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
            try:
                passes = [runner.run_pass(traced=True)]
            finally:
                tracer.uninstall()
        else:
            passes = [runner.run_pass()]
            while time.perf_counter() < deadline:
                passes.append(runner.run_pass())
        rss_by_process = proc.rss_peaks_gb()
    finally:
        _stop(spark)
    record["load1_after"] = proc.loadavg1()
    record["phases_s"] = {"session": session_s, "inputs": gen_s,
                          "total": time.perf_counter() - T_PROCESS}
    record["host"] = [
        {k: p.cpu.get(k) for k in ("own_cores", "neighbor_cores", "steal_cores", "wall_s")}
        for p in passes
    ]
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    # time to the first timed operation: the warm-up epochs are excluded
    e2e = {
        "setup_s": session_s + gen_s + passes[0].init_s,
        **summary(passes),
        "rss_peak_gb": sum(rss_by_process.values()),
    }
    record["passes"] = [dataclasses.asdict(p) for p in passes]
    record["end_to_end"] = e2e
    record["rss_by_process_gb"] = rss_by_process
    if args.trace:
        events = ledger.read_log(log_dir)
        rows, jobs = ledger.fold(events)
        layers, record["epoch_breakdown"] = report.per_layer(
            passes[0], tracer.export(), rows, jobs)
        layers.update(report.traced_end_to_end(e2e))
        record["per_layer"] = layers
        metrics = layers
        with open(os.path.join(out_dir, "spans.json"), "w") as f:
            json.dump(tracer.export(), f)
        with open(os.path.join(out_dir, "ledger.json"), "w") as f:
            json.dump({"stages": rows, "jobs_by_label": jobs}, f)
        shutil.rmtree(log_dir, ignore_errors=True)
    else:
        metrics = {k: {"value": v, "unit": report.E2E_UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(out_dir, "run.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for d in os.listdir(out_dir):
        if d.startswith("catalog-") or d == "tmp":
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
