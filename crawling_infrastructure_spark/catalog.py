"""Versioned Parquet tables with Iceberg-style snapshot semantics.

The design targets Iceberg (frontier bucketed by ``bucket(N, host_hash)``,
MERGE INTO for status write-back, snapshot tags per epoch, rollback on
resume). The sandbox has no Iceberg runtime jar, so this module provides the
same contract over plain Parquet with an atomic-rename manifest:

    <root>/<table>/
        v_00000001_<uuid>/   data dirs (parquet; one _bkt=<b> subdir per
                             bucket when the table has more than one)
        _manifest.json       {"current": N, "n_buckets": B, "versions": [...]}

- ONE table class: a version maps ``bucket_id -> [data dirs]``, and a flat
  table is a table with one bucket. ONE write primitive,
  ``Table._write(df, drop, tag)``, writes ``df`` as one new data dir (a
  subdir per bucket that got rows) and commits the current dirs minus
  ``drop`` plus the new ones; a bucket left with no dirs disappears. The
  public writes name what they drop: ``append`` nothing (O(delta), like an
  Iceberg append snapshot), ``write_full`` every dir (an overwrite
  snapshot), ``merge_buckets`` the dirty buckets' dirs (MERGE INTO),
  ``compact_small`` the small dirs it rewrites
- writer-side value sets (the analogue of the column statistics an Iceberg
  manifest keeps per data file): a table built with ``stat_col`` records,
  per data dir, the distinct values of that column, collected by an
  Observation on the write job itself — no read-back. ``buckets_with(v)``
  answers "which buckets may hold rows with value v?" from the manifest
  alone. ``stat_col`` must be low-cardinality (the frontier's ``status``):
  the sets live in the manifest JSON
- commit = write manifest to a temp file + ``os.replace`` (atomic on POSIX);
  the epoch driver is the single writer, so this is race-free by
  construction — exactly the property the reference lacked and papered over
  with heartbeat healing (master/doc/QueueArch.md, workermeta.model.ts:125-203)
- every version can carry a ``tag`` (we tag ``epoch-K``); ``rollback`` makes
  an old version current again → kill-and-resume recovers the exact frontier
  (replaces the reference's U4/U7/U8 queue-healing machinery, SURVEY.md §2.6)

On a real cluster swap this file for ``spark.table("catalog.db.frontier")``
+ Iceberg MERGE INTO; the operator code only touches the Table API below.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def suggest_buckets(
    n_rows: int,
    target_rows_per_bucket: int = 1_000_000,
    lo: int = 1,
    hi: int = 16384,
) -> int:
    """Bucket-count sizing rule (VERDICT r2 item 9): smallest power of two
    with ~target rows per bucket. A 10^10-row frontier gets 16384 buckets
    (~6x10^5 rows each — one comfortable executor task); a sandbox frontier
    under 1M rows gets ONE bucket — i.e. no bucket machinery at all, a plain
    whole-table snapshot per merge, which is exactly the round-1 layout that
    was fastest at small scale. Bucket pruning only pays once the frontier
    dwarfs an epoch batch; below target_rows_per_bucket the whole table is
    one comfortable write task. Power of two keeps pmod distribution stable
    under doubling if a table is ever re-bucketed."""
    b = lo
    while b < hi and n_rows > b * target_rows_per_bucket:
        b *= 2
    return b


class Table:
    """Iceberg-style ``PARTITIONED BY bucket(n_buckets, key)`` table over
    Parquet; ``n_buckets=1`` (the default, no key) is a flat table whose
    one bucket is plain parquet, written with no repartition.

    Every write goes through ``_write(df, drop)`` (see the module
    docstring): rows land in their bucket as one new dir, the dirs in
    ``drop`` leave the version, every other dir carries over by reference.
    A write that touches K of N buckets therefore costs O(touched buckets),
    never O(table) — the property that makes the epoch loop's frontier
    write-back O(batch) at a 10^10-row frontier (VERDICT round-1 item 1;
    reference per-item update semantics: crawler/src/crawl_queue.ts:119-149).

    Bucket id = ``pmod(key, n_buckets)`` — non-negative even for signed
    xxhash64 keys; for tables already keyed by a bucket ordinal in
    [0, n_buckets) (the seen table) pmod is the identity.

    With ``stat_col`` set, every write records each new dir's set of
    ``stat_col`` values in the version (one-bucket tables too), so
    ``buckets_with`` prunes buckets without a scan.
    """

    BKT = "_bkt"

    def __init__(
        self,
        root: str,
        name: str,
        n_buckets: int = 1,
        key: str | None = None,
        stat_col: str | None = None,
    ):
        self.dir = os.path.join(root, name)
        self.name = name
        self._manifest_path = os.path.join(self.dir, "_manifest.json")
        self.key = key
        # low-cardinality column whose per-dir value sets the manifest keeps
        self.stat_col = stat_col
        # the bucket count is part of the table's physical layout: a table
        # that already has data dictates it (persisted at first commit), so
        # resume/reopen always agrees with what's on disk regardless of the
        # constructor argument (which then only seeds NEW tables)
        self.n_buckets = int(self._load().get("n_buckets", n_buckets))

    # -- manifest ---------------------------------------------------------
    def _load(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": 0, "versions": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> None:
        os.makedirs(self.dir, exist_ok=True)
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    @staticmethod
    def _next_version(m: dict) -> int:
        """One past the HIGHEST version, not the current one: after a
        rollback the versions past it stay in history, and a reused number
        would shadow the new snapshot."""
        return max((v["version"] for v in m["versions"]), default=0) + 1

    def exists(self) -> bool:
        return bool(self._load()["versions"])

    def current_version(self) -> int:
        return self._load()["current"]

    def snapshots(self) -> list[dict]:
        return self._load()["versions"]

    @staticmethod
    def _version_dirs(v: dict) -> list[str]:
        """Every data dir version ``v`` references."""
        return [d for dirs in v["buckets"].values() for d in dirs]

    def _current(self, m: dict) -> dict | None:
        return next((v for v in m["versions"] if v["version"] == m["current"]), None)

    def _current_buckets(self, manifest: dict | None = None) -> dict[str, list[str]]:
        v = self._current(manifest or self._load())
        return v["buckets"] if v else {}

    def _current_dirs(self) -> list[str]:
        return [d for dirs in self._current_buckets().values() for d in dirs]

    # -- data -------------------------------------------------------------
    def _bucket_col(self, key: str | None = None):
        return F.pmod(F.col(key or self.key), F.lit(self.n_buckets)).cast("int")

    def bucket_ids_of(self, df: DataFrame, key: str | None = None) -> list[int]:
        """Distinct bucket ids present in df (the dirty set) — one tiny
        distinct-collect over a single int column."""
        b = self._bucket_col(key).alias("b")
        return sorted(int(r[0]) for r in df.select(b).distinct().collect())

    def _write_partitioned(
        self, df: DataFrame, path: str, n_parts: int | None = None
    ) -> dict[str, str]:
        """Write df partitioned by bucket; returns {bucket_id: subdir}.

        ``n_parts`` bounds the shuffle width (len(dirty) for a merge)
        instead of the session default — a K-bucket merge runs K write
        tasks producing K files, not shuffle.partitions tasks mostly
        writing nothing (round-2 fixed-cost regression, VERDICT r2 item
        1a). A task may write several buckets; each bucket still lands in
        one file, since the repartition is keyed by bucket."""
        if self.n_buckets == 1:
            # flat layout: bucket 0 IS the table — plain parallel write, no
            # repartition shuffle, no dynamic-partition committer, upstream
            # parallelism preserved
            df.write.mode("overwrite").parquet(path)
            return {"0": path}
        (
            df.withColumn(self.BKT, self._bucket_col())
            .repartition(n_parts or self.n_buckets, F.col(self.BKT))
            .write.mode("overwrite")
            .partitionBy(self.BKT)
            .parquet(path)
        )
        out: dict[str, str] = {}
        for entry in os.listdir(path):
            if entry.startswith(f"{self.BKT}="):
                out[entry.split("=", 1)[1]] = os.path.join(path, entry)
        return out

    def _write(
        self,
        df: DataFrame,
        drop: Iterable[str],
        tag: str | None,
        n_parts: int | None = None,
    ) -> int:
        """The one write primitive: write ``df`` as one new data dir (one
        subdir per bucket with rows) and commit a version naming the
        current dirs minus ``drop`` plus the new subdirs; a bucket left
        with no dirs is dropped. With ``stat_col`` set, the written dirs'
        value sets come from an Observation on this very write job and the
        carried dirs keep theirs."""
        m = self._load()
        version = self._next_version(m)
        d = os.path.join(self.dir, f"v_{version:08d}_{uuid.uuid4().hex[:8]}")
        obs = None
        if self.stat_col:
            obs = Observation()
            bkt = self._bucket_col() if self.n_buckets > 1 else F.lit(0)
            df = df.observe(obs, F.collect_set(F.struct(bkt, self.stat_col)).alias("s"))
        written = self._write_partitioned(df, d, n_parts)
        drop = set(drop)
        buckets: dict[str, list[str]] = {}
        for b, dirs in self._current_buckets(m).items():
            kept = [p for p in dirs if p not in drop]
            if kept:
                buckets[b] = kept
        for b, p in written.items():
            buckets.setdefault(b, []).append(p)
        entry: dict = {"version": version, "buckets": buckets, "tag": tag}
        if obs is not None:
            seen: dict[str, set] = {}
            # a bucketed write of no rows has no metrics to read: AQE drops
            # the empty shuffle stage, and the observation with it
            for b, value in obs.get["s"] if written else ():
                seen.setdefault(str(b), set()).add(value)
            carried = (self._current(m) or {}).get("dir_values") or {}
            values = {**carried, **{p: sorted(seen.get(b, ())) for b, p in written.items()}}
            entry["dir_values"] = {
                p: values[p] for dirs in buckets.values() for p in dirs if p in values
            }
        m["versions"].append(entry)
        m["current"] = version
        m["n_buckets"] = self.n_buckets  # layout is immutable once data exists
        self._commit(m)
        return version

    def write_full(self, df: DataFrame, tag: str | None = None) -> int:
        """Overwrite snapshot (the Parquet stand-in for Iceberg MERGE INTO /
        overwritePartitions): the new version references only df's dirs."""
        return self._write(df, self._current_dirs(), tag)

    def append(self, df: DataFrame, tag: str | None = None) -> int:
        """Append snapshot: O(new data), each bucket receiving rows gains
        one dir, no existing dir is rewritten."""
        return self._write(df, (), tag)

    def merge_buckets(self, df: DataFrame, dirty: list[int], tag: str | None = None) -> int:
        """Replace the content of the ``dirty`` buckets with df's rows in
        them; df's rows in other buckets are appended. Untouched buckets
        are carried over by reference: O(touched buckets)."""
        cur = self._current_buckets()
        drop = [p for b in dirty for p in cur.get(str(b), [])]
        return self._write(df, drop, tag, n_parts=max(1, len(dirty)))

    def buckets_with(self, value) -> list[int]:
        """Buckets of the CURRENT version whose rows may hold ``stat_col ==
        value``, straight from the manifest: zero Spark jobs. A dir with no
        recorded value set (written without ``stat_col``, or before value
        sets existed) counts as holding every value."""
        v = self._current(self._load())
        if v is None:
            return []
        values = v.get("dir_values") or {}
        return sorted(
            int(b) for b, dirs in v["buckets"].items()
            if any(value in values.get(p, (value,)) for p in dirs)
        )

    def _read_dirs(
        self, spark: SparkSession, dirs: list[str], schema: T.StructType | None
    ) -> DataFrame:
        """``schema``: skip parquet footer inference — at one frontier read
        per epoch the driver-side footer fetch is measurable fixed cost —
        and answer an empty DataFrame of it when ``dirs`` is empty (a
        table, or bucket, that no row has reached yet)."""
        if dirs:
            reader = spark.read.schema(schema) if schema is not None else spark.read
            return reader.parquet(*dirs)
        if schema is None:
            raise FileNotFoundError(f"table {self.name}: no data")
        return spark.createDataFrame([], schema)

    def read(self, spark: SparkSession, schema: T.StructType | None = None) -> DataFrame:
        return self._read_dirs(spark, self._current_dirs(), schema)

    def read_buckets(
        self, spark: SparkSession, bucket_ids: list[int], schema: T.StructType | None = None
    ) -> DataFrame:
        """Read only the named buckets (Iceberg bucket-pruned scan)."""
        cur = self._current_buckets()
        return self._read_dirs(spark, [d for b in bucket_ids for d in cur.get(str(b), [])], schema)

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        for v in self._load()["versions"]:
            if v["version"] == version:
                return spark.read.parquet(*self._version_dirs(v))
        raise KeyError(f"{self.name}: no version {version}")

    def rollback(self, version: int) -> None:
        """Make an older snapshot current (Iceberg rollback_to_snapshot) —
        the resume path after a killed job."""
        m = self._load()
        if version not in [v["version"] for v in m["versions"]]:
            raise KeyError(f"{self.name}: no version {version}")
        m["current"] = version
        self._commit(m)

    def expire_snapshots(self, keep_last: int = 5) -> None:
        """GC old versions' unreferenced dirs (Iceberg expire_snapshots)."""
        m = self._load()
        if len(m["versions"]) <= keep_last:
            return
        keep = m["versions"][-keep_last:]
        if m["current"] not in [v["version"] for v in keep]:
            keep = [v for v in m["versions"] if v["version"] == m["current"]] + keep
        referenced = {d for v in keep for d in self._version_dirs(v)}
        # a data root no kept version references into is garbage: a dir only
        # expired versions named, a write that died before its commit, or
        # the empty shell of a root whose bucket subdirs (<root>/v_x/_bkt=3)
        # were all superseded
        for entry in os.listdir(self.dir):
            root = os.path.join(self.dir, entry)
            if entry.startswith("v_") and not any(
                d == root or d.startswith(root + os.sep) for d in referenced
            ):
                shutil.rmtree(root, ignore_errors=True)
        for d in {d for v in m["versions"] for d in self._version_dirs(v)} - referenced:
            shutil.rmtree(d, ignore_errors=True)
        m["versions"] = keep
        self._commit(m)

    # -- maintenance --------------------------------------------------------
    @staticmethod
    def _dir_bytes(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, files in os.walk(d)
            for f in files
        )

    def buckets_over(self, max_dirs: int) -> list[int]:
        """Buckets whose current dir list holds more than ``max_dirs`` dirs
        (each append, or merge that lands rows outside its dirty set, adds
        one dir to a bucket) — a manifest read, zero Spark jobs."""
        cur = self._current_buckets()
        return sorted(int(b) for b, dirs in cur.items() if len(dirs) > max_dirs)

    def compact_small(
        self, spark: SparkSession, max_dirs: int = 8, tag: str | None = "compact"
    ) -> int | None:
        """Size-tiered compaction (the Iceberg rewrite_data_files maintenance
        action): in each bucket holding more than ``max_dirs`` data dirs,
        rewrite its SMALLEST surplus dirs as one and commit a new version;
        the bucket's other dirs carry over by reference. Old versions keep
        referencing the pre-compaction dirs until expire_snapshots retires
        them, so rollback/resume still works across a compaction.

        Merging smallest-first is the LSM size-tiering rule: per-epoch
        appends (small) get folded together repeatedly before ever touching
        the big consolidated runs, so total write amplification is
        O(log n_appends) per row — a longliving crawl's append tables stay
        at <= max_dirs dirs per bucket without rewriting the full table each
        GC. Without this, append() grows one dir per epoch FOREVER and every
        read lists O(epochs) dirs (VERDICT r3 what's-wrong #3)."""
        fat = [d for d in self._current_buckets().values() if len(d) > max_dirs]
        if not fat:
            return None
        merge = [
            p for dirs in fat
            for p in sorted(dirs, key=self._dir_bytes)[: len(dirs) - max_dirs + 1]
        ]
        return self._write(spark.read.parquet(*sorted(merge)), merge, tag, n_parts=len(fat))


class BucketedTable(Table):
    """A ``Table`` whose bucket count and key the caller must name (the
    frontier, the seen set, the near-dup band store). It adds no behaviour:
    it is its own class so that patching a method on it reaches only the
    bucketed tables."""

    def __init__(
        self,
        root: str,
        name: str,
        n_buckets: int,
        key: str,
        stat_col: str | None = None,
    ):
        super().__init__(root, name, n_buckets, key, stat_col)


class Catalog:
    """A directory of Tables — the stand-in for an Iceberg catalog/namespace."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.root, name)

    def bucketed_table(
        self, name: str, n_buckets: int, key: str, stat_col: str | None = None
    ) -> BucketedTable:
        return BucketedTable(self.root, name, n_buckets, key, stat_col=stat_col)

    def drop(self, name: str) -> None:
        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
