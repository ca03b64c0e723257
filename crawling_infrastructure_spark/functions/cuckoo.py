"""Sharded cuckoo filter — the second URL-seen pre-filter the north_rule
names ("bloom/cuckoo URL-seen set"), with the two properties the Bloom
can't offer:

1. **Incremental folds.** The Bloom path rebuilds a touched shard's filter
   from the FULL merged key array every epoch (operators/seen.py
   ``filter_unseen`` — O(state) hashing per dirty bucket, right-sized but
   paid on every touch). A cuckoo shard folds a batch by inserting only
   the fresh keys into the deserialized table: O(batch) per touch, which
   at a 10^6-key bucket touched every epoch is ~10^3x less hashing.
2. **Deletion.** Retiring URLs (TTL recrawl, host blacklisting) removes
   fingerprints in place; a Bloom can only be rebuilt.

Role is identical to functions/bloom.py: a TIER-1 pre-filter with zero
false negatives — negatives are definitely-new and skip the exact check;
positives (seen + ~fpp) go to the exact packed-hash tier. Exactness of the
seen set never depends on the filter.

Layout: ``n_buckets`` (power of two) buckets x 4 slots of 16-bit
fingerprints (0 = empty slot; fingerprints are remapped to 1..65535).
fpp ~= 2*slots/2^16 ~= 1.2e-4; ~17 bits/key at the 0.95 target load.
Candidate buckets: i1 = mix(key), i2 = i1 XOR mix(fp) — an involution, so
either copy finds its partner without knowing which insert placed it
(Fan et al., "Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014).

Vectorized throughout: batch inserts place keys slot-round by slot-round
with a one-key-per-bucket dedup per round (np.unique), falling back to a
bounded per-key eviction loop only for the residue (rare below ~0.9 load).
If an eviction chain ever exhausts its kicks the filter marks itself
SATURATED and ``contains`` degrades to all-True — conservative: the exact
tier then does the work, false negatives remain impossible.

Serialization is self-describing: the first 8 bytes are a MAGIC >= 2^62,
unreachable as a Bloom header's n_bits, so shard blobs of either kind can
share the seen table's ``bloom`` column (``deserialize_prefilter``).
"""

from __future__ import annotations

import numpy as np

from crawling_infrastructure_spark.functions.bloom import Bloom, _mix

_U64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_FP_SALT = np.uint64(0x9E3779B97F4A7C15)  # decorrelate fp from the bucket hash


class Cuckoo:
    """Fixed-capacity cuckoo filter over uint64 keys, numpy-vectorized."""

    MAGIC = 0xC0C0F11E00C0C0A1  # > 2^62: cannot collide with Bloom n_bits
    SLOTS = 4
    MAX_KICKS = 500
    TARGET_LOAD = 0.95

    def __init__(
        self,
        n_buckets: int,
        table: np.ndarray | None = None,
        n_items: int = 0,
        saturated: bool = False,
    ):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of 2"
        self.n_buckets = int(n_buckets)
        self.table = (
            table
            if table is not None
            else np.zeros(self.n_buckets * self.SLOTS, dtype=np.uint16)
        )
        self.n_items = int(n_items)
        self.saturated = bool(saturated)

    # -- sizing ------------------------------------------------------------

    @classmethod
    def sized(cls, n_expected: int) -> "Cuckoo":
        n_expected = max(64, int(n_expected))
        nb = 1
        while nb * cls.SLOTS * cls.TARGET_LOAD < n_expected:
            nb <<= 1
        return cls(nb)

    @property
    def capacity(self) -> int:
        return int(self.n_buckets * self.SLOTS * self.TARGET_LOAD)

    # -- hashing -----------------------------------------------------------

    def _fp(self, keys: np.ndarray) -> np.ndarray:
        f = (_mix((keys.astype(np.uint64) ^ _FP_SALT)) & np.uint64(0xFFFF)).astype(
            np.uint16
        )
        f[f == 0] = 1
        return f

    def _i1(self, keys: np.ndarray) -> np.ndarray:
        return (_mix(keys.astype(np.uint64)) & np.uint64(self.n_buckets - 1)).astype(
            np.int64
        )

    def _alt(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        h = _mix(fp.astype(np.uint64)) & np.uint64(self.n_buckets - 1)
        return (idx.astype(np.int64) ^ h.astype(np.int64)).astype(np.int64)

    # -- vectorized insert ---------------------------------------------------

    def _place_round(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Try to place each (bucket=idx[j], fp[j]) into a free slot of its
        bucket. One slot-round at a time; within a round at most one key per
        bucket claims the slot (np.unique first-occurrence). Returns placed
        mask."""
        placed = np.zeros(len(idx), dtype=bool)
        for slot in range(self.SLOTS):
            todo = np.flatnonzero(~placed)
            if not len(todo):
                break
            cell = idx[todo] * self.SLOTS + slot
            free = self.table[cell] == 0
            todo = todo[free]
            if not len(todo):
                continue
            _, first = np.unique(idx[todo], return_index=True)
            take = todo[first]
            self.table[idx[take] * self.SLOTS + slot] = fp[take]
            placed[take] = True
        return placed

    def add(self, keys: np.ndarray) -> bool:
        """Insert keys (multiset semantics — callers feeding the seen set
        insert each key once by construction). Returns False iff the filter
        saturated during this add (it stays usable, conservatively)."""
        keys = np.asarray(keys, dtype=np.uint64)
        if not len(keys):
            return not self.saturated
        fp = self._fp(keys)
        i1 = self._i1(keys)
        placed = self._place_round(i1, fp)
        rem = np.flatnonzero(~placed)
        if len(rem):
            i2 = self._alt(i1[rem], fp[rem])
            placed2 = self._place_round(i2, fp[rem])
            rem = rem[~placed2]
            # residue: bounded per-key eviction chains (deterministic slot
            # choice — replays produce byte-identical tables)
            for j in rem.tolist():
                if not self._insert_one(int(i1[j]), int(fp[j])):
                    self.saturated = True
        self.n_items += len(keys)
        return not self.saturated

    def _insert_one(self, idx: int, fp: int) -> bool:
        cur_i, cur_fp = idx, fp
        for kick in range(self.MAX_KICKS):
            base = cur_i * self.SLOTS
            row = self.table[base : base + self.SLOTS]
            free = np.flatnonzero(row == 0)
            if len(free):
                self.table[base + int(free[0])] = cur_fp
                return True
            victim = (kick + cur_i) % self.SLOTS
            cur_fp, self.table[base + victim] = (
                int(self.table[base + victim]),
                cur_fp,
            )
            cur_i = int(
                self._alt(np.array([cur_i]), np.array([cur_fp], dtype=np.uint16))[0]
            )
        return False

    # -- queries -------------------------------------------------------------

    def contains(self, keys: np.ndarray) -> np.ndarray:
        """bool array; True = maybe seen, False = definitely new. A
        saturated filter answers all-True (never a false negative)."""
        keys = np.asarray(keys, dtype=np.uint64)
        if not len(keys):
            return np.zeros(0, dtype=bool)
        if self.saturated:
            return np.ones(len(keys), dtype=bool)
        fp = self._fp(keys)
        i1 = self._i1(keys)
        i2 = self._alt(i1, fp)
        t = self.table.reshape(self.n_buckets, self.SLOTS)
        hit1 = (t[i1] == fp[:, None]).any(axis=1)
        hit2 = (t[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Remove one stored copy per key (bool array: removed?). Only keys
        previously add()ed may be deleted — deleting a never-inserted key
        can evict an unrelated colliding fingerprint (standard cuckoo-filter
        contract). O(batch) row operations."""
        keys = np.asarray(keys, dtype=np.uint64)
        removed = np.zeros(len(keys), dtype=bool)
        if not len(keys):
            return removed
        fp = self._fp(keys)
        i1 = self._i1(keys)
        i2 = self._alt(i1, fp)
        for j in range(len(keys)):
            for idx in (int(i1[j]), int(i2[j])):
                base = idx * self.SLOTS
                row = self.table[base : base + self.SLOTS]
                hit = np.flatnonzero(row == fp[j])
                if len(hit):
                    self.table[base + int(hit[0])] = 0
                    removed[j] = True
                    break
        self.n_items -= int(removed.sum())
        return removed

    # -- serialization -------------------------------------------------------

    def serialize(self) -> bytes:
        head = np.array(
            [self.MAGIC, self.n_buckets, self.n_items, int(self.saturated)],
            dtype="<u8",
        ).tobytes()
        return head + self.table.astype("<u2").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "Cuckoo":
        magic, nb, n_items, sat = np.frombuffer(blob[:32], dtype="<u8")
        assert int(magic) == cls.MAGIC, "not a cuckoo blob"
        table = np.frombuffer(blob[32:], dtype="<u2").astype(np.uint16)
        return cls(int(nb), table.copy(), int(n_items), bool(sat))


def deserialize_prefilter(blob: bytes):
    """Dispatch a seen-shard blob to its filter class: cuckoo blobs lead
    with MAGIC >= 2^62; a Bloom header's first 8 bytes are its n_bits,
    which physics keeps far below that."""
    if len(blob) >= 8 and int(np.frombuffer(blob[:8], dtype="<u8")[0]) == Cuckoo.MAGIC:
        return Cuckoo.deserialize(blob)
    return Bloom.deserialize(blob)
