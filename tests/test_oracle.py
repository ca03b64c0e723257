"""Every registry query against its frozen DuckDB ``oracle_sql()`` over the
same sf0.01 tables: one test id per query, the check the driver runs.

The pair joins and ``lm_score`` pick broadcast or shuffle by size
(``similarity._fits_broadcast``); at sf0.01 every side fits, so the same
queries run once more with autoBroadcastJoinThreshold = -1 to check the
shuffle path against the same oracle.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from tests.oracle_compare import assert_same_rows

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
QUERIES = entry.queries()
ORACLE_SQL = entry.oracle_sql()
SIZE_CHOSEN = ["embedding_neardup", "semdedup", "lm_score"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _check(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    assert_same_rows(got, duck.execute(ORACLE_SQL[name]).df())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    _check(spark, duck, name)


@pytest.mark.parametrize("name", SIZE_CHOSEN)
def test_shuffle_path_matches_oracle(spark, duck, no_broadcast, name):
    _check(spark, duck, name)
