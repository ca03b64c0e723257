"""The catalog (crawling_infrastructure_spark/catalog.py): bucket-count
sizing and the manifest-persisted layout, the write primitive's
merge/append semantics, manifest status sets, size-tiered compaction,
snapshot expiry, and the calls perfbench's tracer wraps."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawling_infrastructure_spark.catalog import Catalog, Table, suggest_buckets
from crawling_infrastructure_spark.operators.frontier import frontier_rows
from crawling_infrastructure_spark.schema import FRONTIER_SCHEMA, Status
from tests.conftest import toy_frontier

STATUSES = (Status.INITIAL, Status.RUNNING, Status.COMPLETED, Status.FAILED)


def assert_status_sets_exact(t, spark):
    """``t.buckets_with(s)`` equals a recount of the buckets holding rows in
    status ``s``, for every status."""
    nb = t.n_buckets
    held: dict[int, set[int]] = {}
    for r in (
        t.read(spark)
        .select("status", F.pmod(F.col("host_hash"), F.lit(nb)).cast("int").alias("b"))
        .distinct()
        .collect()
    ):
        held.setdefault(r["status"], set()).add(r["b"])
    for s in STATUSES:
        assert t.buckets_with(s) == sorted(held.get(s, ())), s


# -- bucket-count sizing rule (VERDICT r2 item 9) ----------------------------

def test_suggest_buckets_rule():
    assert suggest_buckets(0) == 1
    assert suggest_buckets(10_000) == 1          # small frontier: unbucketed
    assert suggest_buckets(20_000_000) == 32     # ~1M rows/bucket
    assert suggest_buckets(10_000_000_000) == 16384  # 10^10 design point
    assert suggest_buckets(10**14) == 16384      # hi clamp
    # power of two throughout
    for n in (1, 10**4, 10**6, 10**8, 10**10):
        assert bin(suggest_buckets(n)).count("1") == 1


def test_bucket_count_persisted_in_manifest(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    t = cat.bucketed_table("layout", 8, key="host_hash")
    df = spark.range(100).select(
        F.col("id").alias("host_hash"), F.lit("x").alias("v")
    )
    t.write_full(df)
    # reopening with a DIFFERENT constructor count must yield the on-disk one:
    # the bucket count is physical layout, not session config
    t2 = Catalog(str(tmp_path / "cat")).bucketed_table("layout", 64, key="host_hash")
    assert t2.n_buckets == 8
    assert t2.read(spark).count() == 100


# -- O(batch) write-back property -----------------------------------------------------

def test_merge_buckets_rewrites_only_dirty(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    t = cat.bucketed_table("f", n_buckets=8, key="host_hash", stat_col="status")
    rows = frontier_rows(
        spark.createDataFrame([(f"https://h{i}.example/p",) for i in range(40)], ["item"]),
        1,
        0,
    )
    t.write_full(rows, tag="v1")
    before = t._current_buckets()
    one = t.read(spark).limit(1).collect()[0]
    from crawling_infrastructure_spark.schema import FRONTIER_SCHEMA

    one_df = spark.createDataFrame([one], FRONTIER_SCHEMA)
    dirty = t.bucket_ids_of(one_df)
    delta = one_df.withColumn("status", F.lit(1).cast("int"))
    t.merge_buckets(delta, dirty, tag="v2")
    after = t._current_buckets()
    changed = {b for b in after if after[b] != before.get(b)}
    assert changed == {str(b) for b in dirty}          # only dirty buckets moved
    untouched = set(before) - changed
    assert all(after[b] == before[b] for b in untouched)  # carried by reference
    # dirty bucket now holds exactly the delta; total = delta + untouched rows
    got = t.read_buckets(spark, dirty).collect()
    assert len(got) == 1 and got[0]["status"] == 1
    n_dirty_before = len(
        [r for r in rows.collect()]
    ) - t.read_buckets(spark, [int(b) for b in untouched]).count()
    assert t.read(spark).count() == 40 - n_dirty_before + 1

    # rows outside ``dirty`` ride the same merge as appends: their buckets
    # keep every prior dir and gain exactly one; the dirty bucket is still
    # replaced, every other bucket carried over
    extra = frontier_rows(
        spark.createDataFrame([(f"https://x{i}.example/q",) for i in range(40)], ["item"]),
        1,
        1,
    )
    n_before = t.read(spark).count()
    t.merge_buckets(delta.unionByName(extra), dirty, tag="v3")
    after3 = t._current_buckets()
    dirty_keys = {str(b) for b in dirty}
    grown = {str(b) for b in t.bucket_ids_of(extra)} - dirty_keys
    assert grown
    for b in grown:
        prior = after.get(b, [])
        assert after3[b][: len(prior)] == prior and len(after3[b]) == len(prior) + 1
    assert all(after3[b] == after[b] for b in set(after) - grown - dirty_keys)
    assert all(len(after3[b]) == 1 for b in dirty_keys)
    assert t.read(spark).count() == n_before + 40
    # the manifest's per-bucket status sets match a recount
    assert_status_sets_exact(t, spark)


def test_append_buckets_is_o_batch(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat2"))
    t = cat.bucketed_table("f", n_buckets=8, key="host_hash")
    mk = lambda lo, hi: frontier_rows(
        spark.createDataFrame([(f"https://h{i}.example/p",) for i in range(lo, hi)], ["item"]),
        1,
        0,
    )
    t.write_full(mk(0, 32), tag="v1")
    before = t._current_buckets()
    t.append(mk(32, 36), tag="v2")
    after = t._current_buckets()
    assert t.read(spark).count() == 36
    # appended dirs only on buckets that received rows; their old dirs remain
    for b, dirs in before.items():
        assert after[b][: len(dirs)] == dirs


# -- 1b. manifest status sets maintained across write/merge/append -----------

def test_bucketed_status_sets_maintained(spark, tmp_path):
    nb = 8
    cat = Catalog(str(tmp_path))
    t = cat.bucketed_table("f", nb, key="host_hash", stat_col="status")
    t.write_full(toy_frontier(spark, 600, 13), tag="t0")
    assert_status_sets_exact(t, spark)
    initial = t.buckets_with(Status.INITIAL)
    assert initial and t.buckets_with(Status.COMPLETED)

    # merge two dirty buckets flipping everything to completed: they leave
    # the initial set, carried buckets keep their sets without a recount
    dirty = initial[:2]
    fd = t.read_buckets(spark, dirty, FRONTIER_SCHEMA)
    t.merge_buckets(
        fd.withColumn("status", F.lit(int(Status.COMPLETED))), dirty, tag="flip"
    )
    assert t.buckets_with(Status.INITIAL) == initial[2:]
    assert_status_sets_exact(t, spark)

    # append admits new initial rows: receiving buckets rejoin the set
    extra = frontier_rows(
        spark.createDataFrame(
            [(f"https://hx{i}.example/q{i}",) for i in range(40)], "item string"
        ),
        priority=1,
        epoch=1,
    )
    t.append(extra, tag="grow")
    assert_status_sets_exact(t, spark)
    # a write of no rows records nothing and carries every set over
    t.append(spark.createDataFrame([], FRONTIER_SCHEMA), tag="none")
    assert_status_sets_exact(t, spark)

    # a one-bucket table records its dir's values too
    flat = Table(str(tmp_path), "flat", stat_col="status")
    flat.write_full(toy_frontier(spark, 200, 5), tag="t0")
    assert flat.buckets_with(Status.COMPLETED) == [0]
    assert flat.buckets_with(Status.RUNNING) == []
    assert_status_sets_exact(flat, spark)

    # a version with no recorded value sets (written before they existed)
    # answers every bucket for every value
    m = t._load()
    del t._current(m)["dir_values"]
    t._commit(m)
    every = sorted(int(b) for b in t._current_buckets())
    for s in STATUSES:
        assert t.buckets_with(s) == every


# -- 2. compaction bounds append-table dirs ----------------------------------

def test_table_compact_small(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    t = cat.table("pages")
    for i in range(10):
        t.append(spark.range(i * 10, i * 10 + 10).toDF("id"), tag=f"e{i}")
    before = {r["id"] for r in t.read(spark).collect()}
    assert len(t._current_dirs()) == 10

    v = t.compact_small(spark, max_dirs=4)
    assert v is not None
    assert len(t._current_dirs()) <= 4
    assert {r["id"] for r in t.read(spark).collect()} == before
    # idempotent below the bound
    assert t.compact_small(spark, max_dirs=4) is None

    # pre-compaction snapshots stay readable until expiry (resume safety)...
    assert {r["id"] for r in t.read_version(spark, v - 1).collect()} == before
    # ...and expiry then actually deletes the merged-away dirs on disk
    t.expire_snapshots(keep_last=1)
    disk = [d for d in os.listdir(t.dir) if d.startswith("v_")]
    assert len(disk) <= 4
    assert {r["id"] for r in t.read(spark).collect()} == before


def test_bucketed_compact_small(spark, tmp_path):
    nb = 4
    cat = Catalog(str(tmp_path))
    t = cat.bucketed_table("seenish", nb, key="k")
    # one big dir in bucket 0 first, then six small appends to every bucket
    t.append(spark.range(2000).select((F.col("id") * nb + 1000).alias("k")), tag="big")
    (big,) = t._current_buckets()["0"]
    for i in range(6):
        t.append(
            spark.range(i * 20, i * 20 + 20).select(F.col("id").alias("k")),
            tag=f"b{i}",
        )
    before = {r["k"] for r in t.read(spark).collect()}
    assert any(len(d) > 2 for d in t._current_buckets().values())

    assert t.compact_small(spark, max_dirs=2) is not None
    after = t._current_buckets()
    assert all(len(d) <= 2 for d in after.values())
    # size-tiered per bucket: the fat bucket's largest dir is carried over
    # by reference, only its small dirs are rewritten (into one)
    assert after["0"][0] == big and len(after["0"]) == 2
    assert {r["k"] for r in t.read(spark).collect()} == before
    assert t.compact_small(spark, max_dirs=2) is None


# -- snapshot expiry --------------------------------------------------------

def test_flat_expire_snapshots_removes_uncommitted_dir(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("pages")
    for i in range(3):
        t.append(spark.range(i, i + 1).toDF("id"), tag=f"epoch-{i}")
    # a write that died before its manifest commit
    orphan = os.path.join(t.dir, "v_00000099_deadbeef")
    spark.range(5).write.parquet(orphan)
    t.expire_snapshots(keep_last=1)
    assert not os.path.exists(orphan)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 2]


# -- the calls perfbench's tracer wraps --------------------------------------

def test_tracer_records_one_span_per_table_call(spark, tmp_path):
    """perfbench/trace.py patches the public writes on both table class
    names; each call must record exactly one span named
    catalog.<table-name prefix>.<method>, whichever class defines it."""
    from perfbench.trace import Tracer

    cat = Catalog(str(tmp_path))
    flat = cat.table("pages_t")
    bucketed = cat.bucketed_table("frontier_t", 4, key="k")
    df = spark.range(8).select(F.col("id").alias("k"))
    tracer = Tracer(spark)
    tracer.install()
    try:
        flat.append(df)
        bucketed.merge_buckets(df, [0, 1])
    finally:
        tracer.uninstall()
    assert [s["name"] for s in tracer.export()] == [
        "catalog.pages.append", "catalog.frontier.merge_buckets",
    ]
    flat.append(df)  # uninstalled: no further span
    assert len(tracer.export()) == 2
