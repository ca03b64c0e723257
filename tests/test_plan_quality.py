"""Automated physical-plan quality gates over the query registry.

The correctness oracle proves WHAT each query computes; these tests pin
HOW — the plan properties that decide whether the same query survives a
100x scale-up: no cartesian products ever, scans pruned to the referenced
columns, filters pushed into the parquet scan, and Python confined to the
operators that declare it.
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    from crawling_infrastructure_spark.plans.queries import QUERIES

    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _registry():
    from crawling_infrastructure_spark.plans.queries import QUERIES

    return sorted(QUERIES)


def test_no_cartesian_products_anywhere(spark):
    bad = []
    for name in _registry():
        plan = _plan(spark, name)
        if "CartesianProduct" in plan:
            bad.append(name)
    assert bad == [], f"cartesian product in: {bad}"


def test_scans_prune_columns(spark):
    # single-table column-pruning probes: the scan must read ONLY the
    # referenced columns, never the wide text/html payload it doesn't use
    cases = {
        # fingerprint/token queries read (doc_id, text) — never the other
        # documents columns they don't project
        "token_counts": {"doc_id", "text"},
        "fingerprint": {"doc_id", "text"},
    }
    for name, allowed in cases.items():
        plan = _plan(spark, name)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, f"{name}: no parquet ReadSchema in plan"
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= allowed, f"{name} reads {cols}, allowed {allowed}"


def test_filters_push_to_scan(spark):
    # a raw-column predicate must reach the parquet reader as a pushed
    # filter; top_revenue_orders filters stored lineitem/orders columns
    from pyspark.sql import functions as F
    from crawling_infrastructure_spark.plans.queries import _t

    df = _t(spark, SF_DIR, "lineitem").filter(F.col("l_quantity") > 40).select(
        "l_orderkey"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "GreaterThan(l_quantity" in pushed.group(1)


def test_python_only_where_declared(spark):
    # Python (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas) is the
    # slow path; every registry query is expected to stay JVM-side except
    # the ones that DECLARE a pandas stage
    # media_features: the decode stub is a (prunable) pandas UDF;
    # fetch_state_machine: runs the real mapInPandas fetch pipeline;
    # claim_stratified_topk: the claim path's _local_topk Arrow
    # pre-reduction (operators/claim.py) is its documented design
    declared = {"media_features", "fetch_state_machine", "claim_stratified_topk"}
    offenders = []
    for name in _registry():
        plan = _plan(spark, name)
        if any(
            marker in plan
            for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        ):
            if name not in declared:
                offenders.append(name)
    assert offenders == [], f"undeclared Python stages in: {offenders}"


def test_media_features_metadata_only_prunes_python(spark):
    # dropping the decoded column must erase the Python stage entirely
    # (catalyst prunes the pandas UDF) — the 100TB metadata-query property
    from crawling_infrastructure_spark.plans.queries import QUERIES

    df = QUERIES["media_features"](spark, SF_DIR).select("media_id", "n_bytes")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


# The joins whose strategy a size rule picks (similarity._fits_broadcast):
# at sf0.001 every side fits the session threshold; with it at -1 the pair
# joins take the salted (key, _salt) shuffle and lm_score broadcasts nothing.
PAIR_JOINS = {"embedding_neardup": "blk", "semdedup": "cell"}


@pytest.mark.parametrize("name", [*PAIR_JOINS, "lm_score"])
def test_size_rule_broadcasts_small_sides(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastExchange" in plan
    if name in PAIR_JOINS:
        assert re.search(rf"BroadcastHashJoin \[{PAIR_JOINS[name]}#", plan)


@pytest.mark.parametrize("name", [*PAIR_JOINS, "lm_score"])
def test_size_rule_shuffles_when_broadcast_is_off(spark, no_broadcast, name):
    plan = _plan(spark, name)
    if name in PAIR_JOINS:
        assert re.search(
            rf"(SortMergeJoin|ShuffledHashJoin) \[{PAIR_JOINS[name]}#\d+, _salt#", plan
        )
    else:
        assert "BroadcastExchange" not in plan


def test_lm_score_shuffle_path_computes_vocab_once(spark, no_broadcast):
    """Off the broadcast path every vocab join of the bigram mappings
    reads one V-row checkpoint: the unigram aggregate ran once, while the
    query was built, so the executed plan holds no unigram shuffle. A
    vocab left as a plan put one under every vocab join: six in all."""
    plan = _plan(spark, "lm_score")
    assert not re.search(r"Exchange hashpartitioning\(gram#", plan)
    assert "Scan ExistingRDD[_v#" in plan
