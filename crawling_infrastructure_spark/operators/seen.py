"""URL-seen set — the dedup the reference *lacks* (SURVEY.md S4/J3: its
``allow_duplicates`` flag is dead code and duplicates enter the queue
freely), required by the north_rule at 10^10-frontier scale.

Two-tier exact dedup, fully self-contained in the sharded ``seen`` table
(one row per ``url_hash % n_buckets`` bucket: a tier-1 filter blob + a
packed SORTED uint64 hash array), admitted in ONE pass. ``filter_unseen``
semi-joins the seen table down to the buckets that receive candidates and
runs one cogrouped pandas task per bucket, which

  1. probes the tier-1 filter (functions/bloom.py or functions/cuckoo.py).
     Negatives are DEFINITELY new (no false negatives), so for a crawl
     where most outlinks are new ~(1-fpp) of them skip step 2;
  2. exact-checks only the positives (truly seen + ~fpp false positives)
     against the packed sorted hashes (vectorized searchsorted);
  3. folds the admitted hashes into the shard and re-serializes it.

The result is one tagged frame: the admitted candidate rows plus one
rewritten shard per bucket that admitted anything. The caller caches it
and takes both halves from the cache (``admitted_rows`` feeds the frontier
commit, ``seen_shards`` the seen commit), so each dirty shard is read,
deserialized and shipped through Arrow ONCE per admission — not once per
tier plus once more for the fold.

Tier 2 used to be an anti-join against the frontier's url_hash column —
correct, but the frontier side of a left-anti join cannot broadcast, so at
the 10^10-row design point it shuffled an 80 GB column EVERY epoch. The
packed-hash shards replace that with O(candidates) work against O(dirty
buckets) of state; the hash array costs 8 B/key (~80 GB total at 10^10,
~5 MB/bucket at 16k buckets — one comfortable Arrow batch), and only
buckets receiving candidates are ever deserialized. Net semantics: EXACT —
identical to the old frontier anti-join because the seen set is maintained
in lockstep with frontier admission (built from the full frontier at
init_task/resume, folded with every admitted batch).

Bloom sizing (round-3 stretch item): every fold re-sizes the bucket's
bloom from the MERGED exact count instead of a fixed 1<<16 floor, so a
bucket that grew to 10^6 keys gets a right-sized filter on its next touch
— the sizing input is persisted state, not a guess.

Tier-1 filter choice (round 5 — the north_rule names "bloom/cuckoo"):
``kind='cuckoo'`` (functions/cuckoo.py) swaps the bloom for a cuckoo
filter with two scale wins: per-epoch folds insert only the FRESH keys
into the deserialized table (O(batch) vs the bloom's O(state) rebuild per
dirty bucket), and ``retire_seen`` deletes fingerprints in place for the
recrawl/TTL path. Blobs are self-describing (magic-dispatched), so either
kind rides the same ``bloom`` column and kill-resume works across a
config change. Exactness never depends on the filter either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawling_infrastructure_spark.functions.bloom import Bloom
from crawling_infrastructure_spark.functions.cuckoo import (
    Cuckoo,
    deserialize_prefilter,
)
from crawling_infrastructure_spark.schema import SEEN_SCHEMA

# design false-positive rate of a bloom shard (a cuckoo's is fixed by its
# fingerprint width, ~1.2e-4): ~0.1% of genuinely new candidates pay the
# exact check in step 2
_BLOOM_FPP = 1e-3


def bucket_expr(url_hash_col, n_buckets: int):
    return F.pmod(url_hash_col, F.lit(n_buckets)).cast("int")


def _pack(hashes: np.ndarray) -> tuple[bytes, int]:
    """uint64 array -> (sorted unique packed bytes, count)."""
    uniq = np.unique(hashes.astype(np.uint64))  # sorts + dedups
    return uniq.tobytes(), len(uniq)


def _unpack(blob) -> np.ndarray:
    if blob is None or not len(blob):
        return np.empty(0, dtype=np.uint64)
    return np.frombuffer(blob, dtype=np.uint64)


def _member(arr: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Vectorized sorted-membership: keys in arr (binary search)."""
    pos = np.searchsorted(arr, keys)
    present = np.zeros(len(keys), dtype=bool)
    inb = pos < len(arr)
    present[inb] = arr[pos[inb]] == keys[inb]
    return present


def _prefilter_for(arr: np.ndarray, kind: str = "bloom") -> bytes:
    """Build a tier-1 filter blob from scratch over the full key array.
    kind='bloom' (rebuild-on-touch semantics) or 'cuckoo'. Both land in the
    same self-describing blob column."""
    if kind == "cuckoo":
        c = Cuckoo.sized(max(1 << 16, len(arr)))
        if len(arr):
            c.add(arr)
        return c.serialize()
    b = Bloom.sized(max(1 << 16, len(arr)), _BLOOM_FPP)
    if len(arr):
        b.add(arr)
    return b.serialize()


def build_seen(hashes: DataFrame, n_buckets: int, kind: str = "bloom") -> DataFrame:
    """hashes['url_hash'] -> seen table (tier-1 filter blob + packed sorted
    hash array per bucket). ``kind`` picks the filter ('bloom'|'cuckoo' —
    north_rule names both; blobs are self-describing so a table can even
    mix kinds across rewrites). Buckets build independently in parallel
    (applyInPandas per bucket)."""

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        packed, n = _pack(pdf["url_hash"].to_numpy())
        blob = _prefilter_for(_unpack(packed), kind)
        return pd.DataFrame(
            {
                "bucket_id": [int(pdf["bucket_id"].iloc[0])],
                "n_items": [n],
                "bloom": [blob],
                "hashes": [packed],
            }
        )

    return (
        hashes.withColumn("bucket_id", bucket_expr(F.col("url_hash"), n_buckets))
        .groupBy("bucket_id")
        .applyInPandas(make, SEEN_SCHEMA)
    )


def retire_seen(
    seen: DataFrame, retire_hashes: DataFrame, n_buckets: int, kind: str = "bloom"
) -> DataFrame:
    """REMOVE url_hashes from the seen state — the recrawl/TTL/blacklist
    path: a retired URL becomes admissible again on its next sighting.
    Cogroup per bucket, only buckets receiving retirements rewritten.
    The exact packed array drops the keys either way; the tier-1 filter is
    deleted from IN PLACE when it's a cuckoo (O(retired) — the property the
    north_rule's 'bloom/cuckoo' choice buys) and rebuilt right-sized when
    it's a bloom (blooms cannot delete)."""
    rh = retire_hashes.withColumn(
        "bucket_id", bucket_expr(F.col("url_hash"), n_buckets)
    )

    def remove(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        prior = _unpack(left["hashes"].iloc[0]) if len(left) else np.empty(0, np.uint64)
        bid = int(left["bucket_id"].iloc[0]) if len(left) else int(right["bucket_id"].iloc[0])
        gone = np.empty(0, dtype=np.uint64)
        if len(right) and len(prior):
            gone = np.unique(right["url_hash"].to_numpy().astype(np.uint64))
            gone = gone[_member(prior, gone)]
        merged = prior[~_member(gone, prior)] if len(gone) else prior
        blob = left["bloom"].iloc[0] if len(left) else None
        if len(gone) or blob is None:
            filt = deserialize_prefilter(blob) if blob is not None else None
            if isinstance(filt, Cuckoo) and not filt.saturated:
                filt.delete(gone)  # in place: O(retired), not O(state)
                blob = filt.serialize()
            else:
                blob = _prefilter_for(merged, kind)
        return pd.DataFrame(
            {
                "bucket_id": [bid],
                "n_items": [len(merged)],
                "bloom": [blob],
                "hashes": [merged.tobytes()],
            }
        )

    return (
        seen.groupBy("bucket_id")
        .cogroup(rh.groupBy("bucket_id"))
        .applyInPandas(remove, SEEN_SCHEMA)
    )


# tag column of filter_unseen's output: True on seen-shard rows
SHARD = "_shard"
_SEEN_COLS = [f.name for f in SEEN_SCHEMA.fields]


def _fold_filter(filt, fresh: np.ndarray, merged: np.ndarray, kind: str) -> bytes:
    """Tier-1 blob after folding ``fresh`` into a shard now holding
    ``merged``. kind='bloom': rebuilt right-sized from the merged exact
    count — O(state) adds, the same order as the unavoidable blob
    re-serialization. kind='cuckoo': INCREMENTAL — only the fresh keys
    insert into the prior table, O(batch); rebuilt (2x-resized) only when
    the prior filter is saturated, is not a cuckoo, or the fold would push
    it past capacity. At a 10^6-key bucket touched every epoch this is
    ~10^3x less filter work than the bloom rebuild."""
    if (
        kind == "cuckoo"
        and isinstance(filt, Cuckoo)
        and not filt.saturated
        and filt.n_items + len(fresh) <= filt.capacity
    ):
        filt.add(fresh)
        return filt.serialize()
    return _prefilter_for(merged, kind)


def _nullable(pdf: pd.DataFrame) -> pd.DataFrame:
    """Integer and boolean columns as pandas' nullable dtypes, so the rows
    of one kind can hold <NA> in the other kind's columns. A float64
    fallback would round every 64-bit hash above 2^53."""
    return pdf.convert_dtypes(
        infer_objects=False, convert_string=False, convert_floating=False
    )


def _tagged(rows: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
    """Union of admitted rows and a shard row, each padded with typed
    nulls in the other's columns."""
    rows, shard = _nullable(rows), _nullable(shard)
    for part, other in ((rows, shard), (shard, rows)):
        for c in other.columns.difference(part.columns):
            part[c] = pd.array([None] * len(part), dtype=other[c].dtype)
    return pd.concat([rows, shard[rows.columns]], ignore_index=True)


def filter_unseen(
    candidates: DataFrame, seen: DataFrame, n_buckets: int, kind: str = "bloom"
) -> DataFrame:
    """EXACT new-URL admission in one cogroup per seen bucket (module
    docstring): candidates whose url_hash is absent from the seen set pass,
    and every bucket that admits anything emits its folded shard. No
    frontier scan anywhere: per-call cost is O(candidates + dirty shard
    state), never O(frontier).

    Returns a tagged frame: the candidate columns plus ``bucket_id``,
    ``n_items``, ``bloom``, ``hashes`` and the boolean ``SHARD`` tag. Take
    the halves with ``admitted_rows`` and ``seen_shards``; cache the frame when
    both are consumed, or the cogroup runs twice. Candidates must be unique
    per url (frontier_rows guarantees it); ``kind`` picks the filter a
    folded shard carries."""
    cand = candidates.withColumn("bucket_id", bucket_expr(F.col("url_hash"), n_buckets))
    # seen side pruned to the buckets receiving candidates, so only
    # O(candidate buckets) of blob is ever read (with an Iceberg seen
    # table this is plain bucket pruning)
    shards = seen.join(
        F.broadcast(cand.select("bucket_id").distinct()), "bucket_id", "left_semi"
    )
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in candidates.schema.fields]
        + [
            T.StructField("bucket_id", T.IntegerType(), False),
            T.StructField("n_items", T.LongType(), True),
            T.StructField("bloom", T.BinaryType(), True),
            T.StructField("hashes", T.BinaryType(), True),
            T.StructField(SHARD, T.BooleanType(), False),
        ]
    )

    def admit(seen_pdf: pd.DataFrame, cand_pdf: pd.DataFrame) -> pd.DataFrame:
        keys = cand_pdf["url_hash"].to_numpy().astype(np.uint64)
        prior, filt = np.empty(0, dtype=np.uint64), None
        seen_mask = np.zeros(len(keys), dtype=bool)
        if len(seen_pdf) and len(keys):
            prior = _unpack(seen_pdf["hashes"].iloc[0])
            filt = deserialize_prefilter(seen_pdf["bloom"].iloc[0])
            maybe = np.asarray(filt.contains(keys), dtype=bool)  # tier 1
            seen_mask[maybe] = _member(prior, keys[maybe])  # tier 2
        if seen_mask.all():  # no candidates, or all already seen: no shard
            return pd.DataFrame(columns=out_schema.names)
        fresh = np.unique(keys[~seen_mask])
        merged = np.insert(prior, np.searchsorted(prior, fresh), fresh)
        shard = pd.DataFrame({
            "bucket_id": [int(cand_pdf["bucket_id"].iloc[0])],
            "n_items": [len(merged)],
            "bloom": [_fold_filter(filt, fresh, merged, kind)],
            "hashes": [merged.tobytes()],
            SHARD: [True],
        })
        return _tagged(cand_pdf.loc[~seen_mask].assign(**{SHARD: False}), shard)

    return (
        shards.groupBy("bucket_id")
        .cogroup(cand.groupBy("bucket_id"))
        .applyInPandas(admit, out_schema)
    )


def admitted_rows(tagged: DataFrame) -> DataFrame:
    """The admitted candidate rows of ``filter_unseen``'s output."""
    cols = [c for c in tagged.columns if c not in _SEEN_COLS and c != SHARD]
    return tagged.filter(~F.col(SHARD)).select(*cols)


def seen_shards(tagged: DataFrame) -> DataFrame:
    """The folded seen shards of ``filter_unseen``'s output — the new
    content of exactly the seen buckets that admitted rows."""
    return tagged.filter(F.col(SHARD)).select(*_SEEN_COLS)
