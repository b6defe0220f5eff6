"""Session memos: build a shared relation once per (session, corpus).

Spark shares no subplans, so a relation several queries consume in one
session — a shingle dictionary, a band index, an edge list, a written
fixture — is built once, cached or persisted, and handed to every later
caller (OPTIMIZATION_r08.md).  ``@session_memo`` is the one way to do it:

- ``fn(spark, sf_dir, *extra)`` is keyed on ``(applicationId,
  abspath(sf_dir), *extra)``: a recycled ``id(spark)`` after a session
  restart cannot resurrect a dead session's DataFrames, and a relative
  and an absolute spelling of one corpus share one entry.
- The first call under a new applicationId unpersists and drops every
  entry of every memo (they can never be served again);
  :func:`clear_caches` does the same on demand, for a program iterating
  corpora or whose files changed mid-session.
- One lock guards every memo, and each key is built by one caller at a
  time; a concurrent caller waits and reuses that value.  Builds run
  outside the lock and call other memos in a fixed order, so no cycle
  can deadlock.
- ``None`` is returned but not stored (an empty corpus has nothing to
  share), and ``valid=`` re-checks a stored value before it is served:
  the persisted-table memos pass ``scratch.is_published`` so a table
  the GC sweep removed is rebuilt.

Results never change: a memo stores lineage, not rows, and a miss
rebuilds the identical plan from the parquet inputs.
"""

from __future__ import annotations

import functools
import os
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

#: one dict per memoized function; clear_caches() and eviction walk
#: this list, and bench tooling counts entries across it.
_REGISTERED: list[dict] = []

#: guards every memo dict, _APP and _BUILDING; notified when a build
#: ends.  Reentrant (Condition's default RLock), so a call that sees a
#: new applicationId can clear_caches() under it.
_LOCK = threading.Condition()

#: applicationId the stored entries belong to
_APP: str | None = None

#: (id(memo dict), key) pairs being built right now
_BUILDING: set[tuple[int, tuple]] = set()


def _unpersist(value: Any) -> None:
    """Best-effort unpersist of a DataFrame or a tuple holding some; a
    path or a dead context's DataFrame is just dropped."""
    values = value if isinstance(value, (tuple, list)) else (value,)
    for v in values:
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:  # noqa: BLE001 — dead SparkContext
                pass


def session_memo(
    fn: Callable | None = None, *, valid: Callable[[Any], bool] | None = None
):
    """Memoize ``fn(spark, sf_dir, *extra)`` per (session, corpus, extra).

    Usable bare (``@session_memo``) or with a stored-value check
    (``@session_memo(valid=is_published)``).  The memo dict is the
    wrapper's ``cache`` attribute."""
    if fn is None:
        return functools.partial(session_memo, valid=valid)
    cache: dict[tuple, Any] = {}
    _REGISTERED.append(cache)

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str, *extra: Any):
        global _APP
        app = spark.sparkContext.applicationId
        key = (app, os.path.abspath(sf_dir)) + extra
        slot = (id(cache), key)
        with _LOCK:
            if app != _APP:
                clear_caches()
                _APP = app
            while slot in _BUILDING:
                _LOCK.wait()
            hit = cache.get(key)
            if hit is not None and (valid is None or valid(hit)):
                return hit
            _BUILDING.add(slot)
        value = None
        try:
            value = fn(spark, sf_dir, *extra)
        finally:
            with _LOCK:
                _BUILDING.discard(slot)
                if value is not None and app == _APP:
                    cache[key] = value
                _LOCK.notify_all()
        return value

    wrapper.cache = cache
    return wrapper


def clear_caches() -> None:
    """Unpersist and drop every memoized relation — the explicit hook
    for a driver or test iterating multiple corpora in one session
    (entries also go stale if files under sf_dir change mid-session;
    this is the reset button for that case)."""
    with _LOCK:
        for d in _REGISTERED:
            for v in d.values():
                _unpersist(v)
            d.clear()
