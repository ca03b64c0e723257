from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.catalog import Table
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


@pytest.fixture
def broadcast_threshold(spark):
    """Setter for spark.sql.autoBroadcastJoinThreshold, restored after the
    test: the size rule (similarity._fits_broadcast) reads it, so a test
    moves the size-chosen joins onto their shuffle path with -1."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    yield lambda value: spark.conf.set(key, str(value))
    spark.conf.set(key, old)


@pytest.fixture
def no_broadcast(broadcast_threshold):
    """Broadcast off for the whole test: every size-chosen join shuffles."""
    broadcast_threshold(-1)


@pytest.fixture(scope="session")
def emb(spark):
    """40 uniform-width (24-dim) float vectors in 3 labels."""
    rows = [
        (i, [((i * 7 + j * 13) % 29 - 14) / 7.0 for j in range(24)], i % 3)
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


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


def _commit_tag(before: dict, after: dict) -> str:
    """What a manifest commit does: the tag of the version it adds,
    ``expire`` when it drops versions, else ``rollback``."""
    old = {v["version"] for v in before["versions"]}
    added = [v for v in after["versions"] if v["version"] not in old]
    if added:
        return added[0]["tag"]
    return "expire" if len(after["versions"]) < len(before["versions"]) else "rollback"


def kill_commit(monkeypatch, table: str, tag: str) -> None:
    """Make the one catalog commit named (table, tag) raise before it
    lands, as a kill there would. ``table`` is the table name's prefix
    (``frontier``, ``pages``, ...) and ``tag`` is ``_commit_tag``'s. Keyed
    by name, not by a commit counter, because the pages append commits on
    a sibling thread."""
    commit = Table._commit

    def killed(self, manifest):
        if self.name.split("_")[0] == table and _commit_tag(self._load(), manifest) == tag:
            raise RuntimeError(f"killed at the {table} {tag} commit")
        return commit(self, manifest)

    monkeypatch.setattr(Table, "_commit", killed)


def seen_hashes(spark, job) -> set[int]:
    """Every url_hash the job's seen shards hold."""
    out: set[int] = set()
    for r in job.seen_t.read(spark).select("hashes").collect():
        out |= set(np.frombuffer(bytes(r.hashes), dtype=np.int64).tolist())
    return out


def frontier_hashes(spark, job) -> set[int]:
    return {r.url_hash for r in job.frontier_t.read(spark).select("url_hash").collect()}
