from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.session import get_spark
from crawling_infrastructure_spark.operators.frontier import frontier_rows
from crawling_infrastructure_spark.schema import Status
from crawling_infrastructure_spark.synth import gen_pages

N_PAGES, N_HOSTS = 300, 6


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    df = gen_pages(spark, N_PAGES, N_HOSTS).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def corpus_dict():
    """Pure-Python view of the same corpus for the oracle — built from the
    identical page_html(i) single source of truth, no Spark involved."""
    from crawling_infrastructure_spark.synth import _zipf_cdf, page_html

    cdf = _zipf_cdf(N_HOSTS)
    d = {}
    for i in range(N_PAGES):
        url, html, _lang = page_html(i, N_PAGES, N_HOSTS, cdf)
        d[url] = html
    return d


def toy_frontier(spark, n=3000, hosts=37):
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
