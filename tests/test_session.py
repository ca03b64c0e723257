"""The session factory (crawling_infrastructure_spark/session.py)."""

import os


def test_driver_heap_at_most_half_physical_memory(spark):
    """The default driver heap leaves half the machine to the Python
    workers, the page cache and everything else on the box."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    assert runtime.maxMemory() <= physical // 2
