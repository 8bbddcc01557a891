"""Bounded registry for operator-internal persisted DataFrames.

An operator may persist an internal intermediate that is referenced
more than once by the (lazy) result it returns — knn_join's top-k
summary is the one such table. CacheManager holds persisted plans
until an explicit unpersist (ContextCleaner only reclaims RDD-level
state), and the operator cannot unpersist eagerly because the
returned DataFrame still references the cache — so a long-lived
session calling the operator in a loop would otherwise accumulate
one O(input) cache entry per call.

A result-lifetime hook (weakref.finalize on the returned DataFrame) is
the obvious alternative but breaks under composition: any
``.select()``/``union`` wrapper drops the Python object before
materialization and the intermediate would unpersist pre-execution.
The bounded LRU keeps caching intact for any consumption pattern of
the most recent calls while capping live entries; evicted entries
recompute if a held result is re-executed later — correct, just
uncached.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


def _session_stopped(df: DataFrame) -> bool:
    try:
        return df.sparkSession.sparkContext._jsc is None
    except Exception:
        return True


class LiveCacheRegistry:
    """Thread-safe bounded list of live persisted DataFrames, oldest
    first. Registering beyond the bound unpersists the oldest entry;
    entries owned by stopped sessions drop eagerly (their cached
    blocks died with the context — keeping the DataFrame only pins a
    dead plan). CacheManager keeps one entry for equal plans and
    ``unpersist`` drops every DataFrame that shares it, so a
    registration first forgets any live entry with the same semantics:
    the newest DataFrame takes its slot, and evicting an older twin
    can never uncache it."""

    def __init__(self, bound: int = 4):
        self.bound = bound
        self.entries: list[DataFrame] = []
        self._lock = threading.Lock()

    def register(self, df: DataFrame) -> None:
        with self._lock:
            self.entries[:] = [
                d
                for d in self.entries
                if not _session_stopped(d) and not d.sameSemantics(df)
            ]
            self.entries.append(df)
            while len(self.entries) > self.bound:
                old = self.entries.pop(0)
                try:
                    old.unpersist(blocking=False)
                except Exception:
                    # session stopped / JVM gone: nothing to release
                    pass
