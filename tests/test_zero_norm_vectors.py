"""Zero-norm vectors in the cosine queries, against the frozen DuckDB oracle.

A vector of all zeros has no direction: its cosine with anything is 0/0.
DuckDB's ``list_cosine_similarity`` (used by every cosine ``oracle_sql()``)
answers -1.0 for it, so that is the expected value; under ANSI mode a plain
Spark division raised DIVIDE_BY_ZERO instead. A NULL embedding scores NULL
in DuckDB, and must stay NULL rather than take the zero-norm value. The sf
dir here holds only the embeddings table these queries read: 64-dim vectors
in 4 labels, four of them all-zero (two among the vec_id < 20 probes, two in
the corpus) and two NULL (one probe, one corpus).

Every other vector has exactly 16 entries equal to s (s = 1 or 2) and the
rest 0, so each cosine is a multiple of 1/16 in float32 (the oracle's
precision) and in double alike: no score sits on a 4-decimal rounding
boundary where the two engines could round apart.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from crawling_infrastructure_spark.plans.queries import ORACLE_SQL, QUERIES
from tests.oracle_compare import assert_same_rows

ZERO_IDS = {3, 7, 25, 31}
NULL_IDS = {13, 34}  # past the first 8 rows, semdedup's initial centroids
COSINE_QUERIES = ["ann_cosine_topk", "ann_cosine_topk_blocked", "embedding_neardup", "semdedup"]


@pytest.fixture(scope="module")
def zero_sf(tmp_path_factory):
    rng = np.random.default_rng(7)
    bases = [rng.choice(64, size=16, replace=False) for _ in range(4)]
    rows = []
    for i in range(40):
        label = i % 4
        v = np.zeros(64)
        if i not in ZERO_IDS:
            # move up to 8 of the label's 16 positions elsewhere
            ones = set(bases[label][rng.integers(0, 9):].tolist())
            free = [p for p in range(64) if p not in bases[label]]
            ones |= set(rng.choice(free, size=16 - len(ones), replace=False).tolist())
            v[sorted(ones)] = 1 + i % 2
        rows.append((i, None if i in NULL_IDS else v.tolist(), label))
    sf = tmp_path_factory.mktemp("sf_zero_norm")
    con = duckdb.connect()
    con.register("src", pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]))
    con.execute(
        "COPY (SELECT CAST(vec_id AS BIGINT) AS vec_id, "
        "CAST(embedding AS FLOAT[]) AS embedding, CAST(label AS INTEGER) AS label "
        f"FROM src) TO '{sf}/embeddings.parquet' (FORMAT PARQUET)"
    )
    return str(sf)


@pytest.mark.parametrize("name", COSINE_QUERIES)
def test_zero_norm_vectors_match_oracle(spark, zero_sf, name):
    got = QUERIES[name](spark, zero_sf).toPandas()
    con = duckdb.connect()
    src = f"SELECT * FROM '{zero_sf}/embeddings.parquet'"
    if name == "embedding_neardup":
        # DuckDB 1.0 raises "can not contain NULL values" on a NULL list
        # read in this query (even behind an IS NOT NULL view); a NULL
        # score never passes the threshold, so the answer is the oracle's
        # over a copy of the table without the NULL rows
        con.execute(f"CREATE TABLE embeddings AS {src} WHERE embedding IS NOT NULL")
    else:
        con.execute(f"CREATE VIEW embeddings AS {src}")
    want = con.execute(ORACLE_SQL[name]).df()
    assert len(got) > 0
    assert_same_rows(got, want)
