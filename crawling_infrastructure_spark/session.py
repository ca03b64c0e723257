"""SparkSession factory tuned for the sandbox (local[N]) but written for a
real multi-executor cluster: every knob set here is the one you'd set at
1000 executors, with the sandbox value chosen by the same rule
(shuffle partitions ~= total cores, AQE on, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_mem() -> str:
    """The default driver heap: 48g, or half the machine's physical memory
    (in whole gigabytes) when it has less than 96 GB — a local session
    shares the box with its Python workers and page cache, and an uncapped
    heap grows to fill it."""
    half_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(48, half_gb))}g"


def get_spark(
    app_name: str = "crawling_infrastructure_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    At cluster scale ``shuffle_partitions`` should be ~2-3x total executor
    cores and AQE coalesces the excess; in local mode we match core count so
    tiny test jobs don't schedule 200 empty tasks.
    """
    cpus = cpus or DEFAULT_CPUS
    # Default shuffle width = core count. A round-3 change floored this at
    # 32 so the scaling comparison would run identical plans at both core
    # levels — correct for THAT measurement, but as the session default it
    # cost a measured 1.5-1.7x on the crawl loop at local[8] (paired
    # trials, BENCH/ab_pairs.json): 4x the tasks and 4x the parquet files
    # per epoch write on a host whose disk subsystem collapses under
    # small-file load. The scaling harness now pins its width explicitly
    # via SPARK_GRAFT_SHUFFLE_PARTITIONS (same value at BOTH levels, since
    # shuffle width is a property of the data, not the core count); normal
    # runs get cpus-wide shuffles and AQE coalescing. On a real cluster
    # spark.sql.shuffle.partitions comes from cluster conf at 2-3x total
    # cores — this default only governs sandbox/local sessions.
    shuffle_partitions = (
        shuffle_partitions
        or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0"))
        or cpus
    )
    builder = SparkSession.builder
    # Under spark-submit the driver python is launched by PythonRunner with
    # an existing JVM gateway (PYSPARK_GATEWAY_PORT set) whose conf already
    # carries --master; overriding it here would silently demote a cluster
    # job to single-node local mode. Only default to local[N] when we own
    # session creation (tests, bench, notebooks).
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # heavy rows (10-100 KB html) make big Arrow batches: 10k records x
        # 30 KB = 300 MB buffered per concurrent python worker — at 32
        # workers that's memory-bandwidth thrash (measured: fetch 2x SLOWER
        # at 32 cores than 8). 1024 records ~= 30 MB keeps workers in cache.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem()))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""),
        )
        # the epoch persists its heavy fetch output DISK_ONLY (plans/epoch.py);
        # compressing those blocks (lz4) trades serial disk bandwidth for
        # parallel CPU — the right side of the trade at every cluster size
        .config("spark.rdd.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 32 MB scan splits (default 128 MB): these workloads are
        # CPU-dense per input byte (decimal aggregates, regex, hashing), so
        # a 173 MB table must not become a 2-task scan — measured
        # pricing_summary/top_revenue 2x faster at 32 MB with identical
        # results. The guide's large-split advice (§6) targets scans that
        # feed big shuffles, where task-count pressure on the shuffle
        # dominates; per-task overhead here is microseconds against tens of
        # MB of compute-heavy input, and on a petabyte table this setting
        # still yields perfectly ordinary ~32k-splits-per-TB scans.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
