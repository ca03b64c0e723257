"""Cuckoo tier-1 seen filter (functions/cuckoo.py + operators/seen.py
kind='cuckoo') — the north_rule's "bloom/cuckoo URL-seen set" second leg.

Exactness of the seen set never depends on the filter; these tests pin the
filter contract (no false negatives, fpp band, deletion, saturation
fallback, serialization dispatch), the one-pass admission under both
kinds (filter_unseen's admitted rows and folded shards, exact against a
plain Python set, including degenerate inputs and 64-bit values), the
incremental-fold invariant, the retire/recrawl path, and the epoch loop
end-to-end under cfg.seen_prefilter='cuckoo'.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.functions.bloom import Bloom
from crawling_infrastructure_spark.functions.cuckoo import (
    Cuckoo,
    deserialize_prefilter,
)


def _keys(n, seed=7):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(0, 2**63, size=n, dtype=np.int64).astype(np.uint64))


# --------------------------------------------------------------- unit level


def test_cuckoo_no_false_negatives_and_fpp_band():
    keys = _keys(50_000)
    c = Cuckoo.sized(len(keys))
    assert c.add(keys) and not c.saturated
    assert c.contains(keys).all()  # the load-bearing property
    probe = _keys(200_000, seed=11)
    probe = probe[~np.isin(probe, keys)]
    fpp = c.contains(probe).mean()
    assert fpp < 1e-3, f"fpp {fpp} out of band (expect ~1.2e-4)"


def test_cuckoo_incremental_folds_equal_one_shot():
    keys = _keys(30_000)
    one = Cuckoo.sized(len(keys))
    one.add(keys)
    inc = Cuckoo.sized(len(keys))
    for part in np.array_split(keys, 7):
        inc.add(part)
    # identical tables byte for byte: fold order cannot change the answer
    # for these keys, and determinism is what makes resume replays exact
    assert inc.contains(keys).all()
    assert inc.n_items == one.n_items


def test_cuckoo_delete_and_residual():
    keys = _keys(20_000)
    c = Cuckoo.sized(len(keys))
    c.add(keys)
    gone = c.delete(keys[:5_000])
    assert gone.all()
    assert c.contains(keys[5_000:]).all(), "false negative after delete"
    # deleted keys drop to the fpp floor
    assert c.contains(keys[:5_000]).mean() < 1e-3


def test_cuckoo_saturation_is_conservative():
    tiny = Cuckoo(64)
    keys = _keys(1_000)
    assert tiny.add(keys) is False and tiny.saturated
    assert tiny.contains(keys).all()  # degrades to all-True, never FN


def test_prefilter_blob_dispatch():
    keys = _keys(1_000)
    c = Cuckoo.sized(len(keys)); c.add(keys)
    b = Bloom.sized(len(keys), 1e-3); b.add(keys)
    rc = deserialize_prefilter(c.serialize())
    rb = deserialize_prefilter(b.serialize())
    assert isinstance(rc, Cuckoo) and isinstance(rb, Bloom)
    assert (rc.table == c.table).all() and rc.n_items == c.n_items
    assert rc.contains(keys).all() and rb.contains(keys).all()


# --------------------------------------------------------------- seen level
#
# filter_unseen admits and folds in one pass; every case below checks its
# two outputs exactly against a plain Python set: the admitted rows, and
# the folded shards (one per bucket that admitted anything, holding the
# bucket's prior keys plus its admitted ones).

NB = 8


def _hash_df(spark, arr):
    return spark.createDataFrame(
        [(int(x),) for x in arr], schema="url_hash long"
    )


def _cand_row(h):
    return (f"u{h}", h, h ^ 0x5A5A, h ^ 0x33)


def _cand_df(spark, hashes):
    """Candidate rows carrying three 64-bit columns, so any float round
    trip of the tagged union would show in the admitted rows."""
    return spark.createDataFrame(
        [_cand_row(h) for h in hashes],
        schema="url string, url_hash long, host_hash long, seq long",
    )


def _admit(spark, cand, seen, kind):
    """(admitted rows as tuples, {bucket_id: shard row})."""
    from crawling_infrastructure_spark.operators.seen import (
        admitted_rows,
        filter_unseen,
        seen_shards,
    )

    tagged = filter_unseen(cand, seen, NB, kind=kind).cache()
    try:
        rows = [
            (r.url, r.url_hash, r.host_hash, r.seq)
            for r in admitted_rows(tagged).collect()
        ]
        shards = {r.bucket_id: r for r in seen_shards(tagged).collect()}
    finally:
        tagged.unpersist()
    return rows, shards


def _commit(spark, seen, shards):
    """The seen table after merging ``shards`` over their buckets."""
    from crawling_infrastructure_spark.schema import SEEN_SCHEMA

    kept = [r for r in seen.collect() if r.bucket_id not in shards]
    return spark.createDataFrame(kept + list(shards.values()), SEEN_SCHEMA)


def _check_shards(shards, prior: set[int], new: set[int], kind):
    assert set(shards) == {h % NB for h in new}
    for b, r in shards.items():
        want = {h for h in prior | new if h % NB == b}
        got = np.frombuffer(bytes(r.hashes), dtype=np.uint64)
        assert (np.diff(got) > 0).all(), "packed hashes must stay sorted unique"
        assert {int(x) for x in got.view(np.int64)} == want
        assert r.n_items == len(want)
        filt = deserialize_prefilter(bytes(r.bloom))
        assert isinstance(filt, Cuckoo if kind == "cuckoo" else Bloom)
        assert filt.contains(got).all(), "folded filter has a false negative"


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_filter_unseen_exact_under_both_kinds(spark, kind):
    from crawling_infrastructure_spark.operators.seen import build_seen

    seen_keys = {int(x) for x in _keys(4_000)}
    new_keys = {int(x) for x in _keys(3_000, seed=23)}
    # a third of the candidates are already seen: tier 2 must drop them
    cands = new_keys | set(sorted(seen_keys)[::3])
    seen = build_seen(_hash_df(spark, sorted(seen_keys)), NB, kind=kind)

    rows, shards = _admit(spark, _cand_df(spark, sorted(cands)), seen, kind)
    want = cands - seen_keys
    assert sorted(rows) == sorted(_cand_row(h) for h in want)
    _check_shards(shards, seen_keys, want, kind)

    # commit the shards and re-offer everything: nothing passes, no shard
    seen2 = _commit(spark, seen, shards)
    rows2, shards2 = _admit(spark, _cand_df(spark, sorted(cands)), seen2, kind)
    assert rows2 == [] and shards2 == {}


def test_cuckoo_fold_is_incremental(spark):
    """kind='cuckoo': a fold that fits the prior filter inserts only the
    fresh keys into it (same table size, n_items grows by the fresh count)."""
    from crawling_infrastructure_spark.operators.seen import build_seen

    seen_keys = [int(x) for x in _keys(2_000)]
    fresh = [int(x) for x in _keys(200, seed=5)]
    seen = build_seen(_hash_df(spark, seen_keys), NB, kind="cuckoo")
    before = {
        r.bucket_id: deserialize_prefilter(bytes(r.bloom)) for r in seen.collect()
    }
    _, shards = _admit(spark, _cand_df(spark, fresh), seen, "cuckoo")
    for b, r in shards.items():
        after = deserialize_prefilter(bytes(r.bloom))
        n_fresh = sum(1 for h in fresh if h % NB == b)
        assert len(after.table) == len(before[b].table)
        assert after.n_items == before[b].n_items + n_fresh


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_filter_unseen_degenerate_inputs(spark, kind):
    from crawling_infrastructure_spark.operators.seen import build_seen

    low = [h for h in (int(x) for x in _keys(3_000)) if h % NB in (0, 1)]
    high = [h for h in (int(x) for x in _keys(3_000, seed=9)) if h % NB in (5, 6)]
    seen = build_seen(_hash_df(spark, low), NB, kind=kind)

    # empty candidates: no rows, no shard
    empty = spark.createDataFrame(
        [], "url string, url_hash long, host_hash long, seq long"
    )
    assert _admit(spark, empty, seen, kind) == ([], {})

    # candidates only in buckets with no seen row: all admitted, and each
    # receiving bucket gets a shard built from scratch
    rows, shards = _admit(spark, _cand_df(spark, high), seen, kind)
    assert sorted(rows) == sorted(_cand_row(h) for h in high)
    _check_shards(shards, set(), set(high), kind)

    # every candidate already seen: no rows, no shard
    assert _admit(spark, _cand_df(spark, low[::2]), seen, kind) == ([], {})


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_filter_unseen_keeps_64bit_values_exact(spark, kind):
    """Hashes above 2^53 collide as float64 (2^53+1 -> 2^53, 2^53+3 ->
    2^53+4): the admitted rows and the shards must carry them bit-exact."""
    from crawling_infrastructure_spark.operators.seen import build_seen

    big = 2**53
    seen_keys = {big, big + 2, big + 4, 2**62 + 8, -(2**62)}
    cands = {
        big + 1, big + 3, big + 5, big + 2, 2**62 + 1, 2**62 + 9,
        2**63 - 1, -(2**63), -(2**62) + 1, -(big + 7),
    }
    seen = build_seen(_hash_df(spark, sorted(seen_keys)), NB, kind=kind)
    rows, shards = _admit(spark, _cand_df(spark, sorted(cands)), seen, kind)
    want = cands - seen_keys
    assert sorted(rows) == sorted(_cand_row(h) for h in want)
    _check_shards(shards, seen_keys, want, kind)


def test_retire_seen_readmits(spark):
    from crawling_infrastructure_spark.operators.seen import (
        build_seen,
        retire_seen,
    )

    keys = [int(x) for x in _keys(2_000)]
    retired = keys[:500]
    for kind in ("bloom", "cuckoo"):
        seen = build_seen(_hash_df(spark, keys), NB, kind=kind)
        seen2 = retire_seen(seen, _hash_df(spark, retired), NB, kind=kind)
        rows, _ = _admit(spark, _cand_df(spark, keys), seen2, kind)
        # exactly the retired keys are admissible again
        assert {r[1] for r in rows} == set(retired), kind
        # still-seen counts survive in the shard metadata
        n = sum(r.n_items for r in seen2.collect())
        assert n == len(keys) - len(retired)


def test_epoch_loop_with_cuckoo_prefilter(spark, tmp_path):
    """Two epochs + kill-resume under seen_prefilter='cuckoo': the crawl
    admits each URL exactly once (the invariant the seen set exists for)
    and resume rebuilds a working cuckoo-backed seen table."""
    from crawling_infrastructure_spark.config import TaskConfig
    from crawling_infrastructure_spark.plans.epoch import CrawlJob
    from crawling_infrastructure_spark.sources.seeds import seeds_from_list
    from crawling_infrastructure_spark.synth import gen_pages, seed_urls

    corpus = gen_pages(spark, 400, 5).cache()
    corpus.count()
    root = str(tmp_path / "cat_ck")
    cfg = TaskConfig(
        task_id="ck",
        max_items_per_second=40,
        epoch_seconds=2.0,
        bloom_prefilter=True,
        seen_prefilter="cuckoo",
    )
    job = CrawlJob(spark, root, corpus, cfg)
    job.init_task(seeds_from_list(spark, seed_urls(60)))
    job.run_epoch(1)
    job.run_epoch(2)
    f = job.frontier_t.read(spark)
    assert f.count() == f.select("url_hash").distinct().count()
    # the shard blobs really are cuckoo blobs
    blob = job.seen_t.read(spark).select("bloom").first().bloom
    assert isinstance(deserialize_prefilter(bytes(blob)), Cuckoo)
    # kill-resume: a fresh job over the same catalog keeps the invariant
    job2 = CrawlJob(spark, root, corpus, cfg)
    job2.run_epoch(3)
    f2 = job2.frontier_t.read(spark)
    assert f2.count() == f2.select("url_hash").distinct().count()
    corpus.unpersist()


def test_config_rejects_unknown_prefilter():
    from crawling_infrastructure_spark.config import TaskConfig

    with pytest.raises(ValueError):
        TaskConfig(task_id="x", seen_prefilter="xor")
