"""Layer spans for the traced run, recorded from outside the program.

``Tracer.install`` patches the public layer calls where
``crawling_infrastructure_spark.plans.epoch`` looks them up (its module
globals for the operators, the catalog classes for table commits) and the
``CrawlJob`` lifecycle methods. Every wrapped call records a span and, for
its duration, sets ``spark.job.description`` on the calling thread so the
Spark event log can attribute each job to the same label
(``<scope>:<layer>``, scope ``e<epoch>``, ``init`` or ``resume``; see
ledger.py). ``uninstall`` restores the originals.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import asdict, dataclass

DESC = "spark.job.description"

# operator functions as plans/epoch.py imports them -> layer name
OPERATORS = {
    "claim_batch": "claim.claim_batch",
    "fetch_batch": "fetch.fetch_batch",
    "filter_unseen": "seen.filter_unseen",
    "task_finished": "frontier.task_finished",
}
# catalog methods, recorded as catalog.<table-name prefix>.<method>
TABLE_METHODS = ("append", "write_full", "merge_buckets", "compact_small", "expire_snapshots")
# CrawlJob lifecycle methods -> root span name
LIFECYCLE = {"init_task": "init", "run_epoch": "epoch", "resume": "resume"}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    epoch: int | None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # (span id, scope, epoch) of the open root span (epoch/init/resume):
        # the parent of a span on a thread with an empty stack — the pages
        # append runs on a sibling thread
        self._root: tuple[int, str, int | None] | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, args, kwargs, root: tuple[str, int | None] | None = None):
        stack = self._stack()
        sid = next(self._ids)
        if root is not None:
            parent, (scope, epoch) = None, root
        else:
            open_root = self._root or (None, "none", None)
            parent = stack[-1] if stack else open_root[0]
            scope, epoch = open_root[1:]
        label = f"{scope}:{name}"
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, label)
        if root is not None:
            self._root = (sid, scope, epoch)
        stack.append(sid)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            if root is not None:
                self._root = None
            self.sc.setLocalProperty(DESC, prev)
            with self._lock:
                self.spans.append(Span(
                    sid, name, start, end, parent,
                    threading.current_thread().name, epoch,
                ))

    # -- patching -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from crawling_infrastructure_spark import catalog
        from crawling_infrastructure_spark.plans import epoch as epoch_mod

        for attr, name in OPERATORS.items():
            self._patch(epoch_mod, attr, self._wrap_fn(getattr(epoch_mod, attr), name))
        for cls in (catalog.Table, catalog.BucketedTable):
            for attr in TABLE_METHODS:
                if attr in cls.__dict__:
                    self._patch(cls, attr, self._wrap_method(cls.__dict__[attr], attr))
        for attr, name in LIFECYCLE.items():
            self._patch(epoch_mod.CrawlJob, attr,
                        self._wrap_lifecycle(epoch_mod.CrawlJob.__dict__[attr], name))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def _wrap_fn(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, args, kwargs)
        return wrapper

    def _wrap_method(self, fn, method: str):
        @functools.wraps(fn)
        def wrapper(table, *args, **kwargs):
            name = f"catalog.{table.name.split('_')[0]}.{method}"
            return self.call(name, fn, (table, *args), kwargs)
        return wrapper

    def _wrap_lifecycle(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(job, *args, **kwargs):
            root = (f"e{args[0]}", args[0]) if name == "epoch" else (name, None)
            return self.call(name, fn, (job, *args), kwargs, root=root)
        return wrapper

    def export(self) -> list[dict]:
        with self._lock:
            return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
