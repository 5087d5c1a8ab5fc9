"""The plan-time cache: one bounded memo for everything the engine
derives from table files before a query runs — table plans, parquet
footer facts, dim-select plans, parent-child closures, the held member
rows of level sets and named-set / member-window keys.

One validity rule covers every entry.  An entry is keyed by
``(kind, applicationId, key)`` and stamped with the ``(realpath,
st_mtime_ns)`` of each file it was computed from; a lookup whose files
have changed since is a miss.  A rewritten table is therefore never
answered from its old contents, with or without ``/flush``.
:func:`invalidate` drops everything: ``GET /flush`` calls it, and so do
rollup appends, whose in-memory frames feed named-set evaluation but
have no file to stamp.  :func:`stats` reports entries, hits and misses
per kind (``GET /stats``).

The cache is an LRU of at most :data:`MAX_ENTRIES` entries.  A persisted
DataFrame that leaves it (evicted, replaced by a newer version, or
invalidated) is unpersisted.  The lock covers the dict operations only,
never the computation, so a slow Spark job does not block other
requests; of two requests missing on one key, both compute and both
get the first result stored (the other is released).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark import SparkContext
from pyspark.sql import DataFrame

#: the largest working set measured is 71 entries (the whole driver
#: query set); the bound is for member-window entries, one per distinct
#: LastPeriods / Lag / PeriodsToDate / Ancestor target
MAX_ENTRIES = 1024

#: (kind, applicationId, key) -> (file stamp, value), oldest use first
_ENTRIES: OrderedDict = OrderedDict()
#: kind -> [hits, misses] since the process started
_COUNTS: dict = {}
_LOCK = threading.Lock()


def _stamp(paths) -> tuple:
    out = []
    for p in paths:
        try:
            out.append((os.path.realpath(p), os.stat(p).st_mtime_ns))
        except FileNotFoundError:
            out.append((p, None))
    return tuple(out)


def _release(values) -> None:
    for v in values:
        if isinstance(v, DataFrame) and v.is_cached:
            v.unpersist()


def get(kind: str, key, paths, fn):
    """The memoized ``fn()`` for ``(kind, key)``, recomputed when any
    file in ``paths`` changed since it was stored.  ``key`` must be
    hashable; the Spark application id is added to it, so entries of
    a stopped session never resurface."""
    sc = SparkContext._active_spark_context
    ck = (kind, sc.applicationId if sc is not None else None, key)
    stamp = _stamp(paths)
    with _LOCK:
        hit = _ENTRIES.get(ck)
        counts = _COUNTS.setdefault(kind, [0, 0])
        if hit is not None and hit[0] == stamp:
            counts[0] += 1
            _ENTRIES.move_to_end(ck)
            return hit[1]
        counts[1] += 1
    value = fn()
    with _LOCK:
        old = _ENTRIES.pop(ck, None)
        if old is not None and old[0] == stamp:
            # a concurrent miss stored first: keep its value, drop ours
            old, value = (stamp, value), old[1]
        _ENTRIES[ck] = (stamp, value)
        dropped = [] if old is None else [old[1]]
        while len(_ENTRIES) > MAX_ENTRIES:
            dropped.append(_ENTRIES.popitem(last=False)[1][1])
    _release(dropped)
    return value


def invalidate() -> None:
    """Drop every entry (unpersisting persisted frames)."""
    with _LOCK:
        dropped = [v for _, v in _ENTRIES.values()]
        _ENTRIES.clear()
    _release(dropped)


def stats() -> dict:
    """{kind: {"entries", "hits", "misses", "rows"}}: the entries held
    now, lookups since the process started, and the rows held by
    entries whose value reports a ``rows`` count (held member sets)."""
    with _LOCK:
        out = {k: {"entries": 0, "hits": h, "misses": m, "rows": 0}
               for k, (h, m) in _COUNTS.items()}
        for (kind, _, _), (_, v) in _ENTRIES.items():
            st = out.setdefault(kind, {"entries": 0, "hits": 0,
                                       "misses": 0, "rows": 0})
            st["entries"] += 1
            st["rows"] += getattr(v, "rows", None) or 0
    return out
