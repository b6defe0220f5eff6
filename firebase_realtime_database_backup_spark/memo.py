"""Session-scoped DataFrame memo discipline, shared by every operator
module.

The engine's performance idiom (OPTIMIZATION_r08.md): Spark shares no
subplans, so relations consumed by several queries in one session are
built once, `.cache()`d, and memoized in a module-level dict.  Round 8
grew six more of those dicts and ADVICE r8 flagged two hygiene gaps
this module closes in one place:

1. **Key normalization.** Some caches keyed on the raw ``sf_dir``
   string while others used ``os.path.abspath`` — the same corpus
   reached via a relative vs absolute path rebuilt and double-persisted
   the expensive relations.  :func:`memo_key` is now the only way a
   memo key is built: ``(applicationId, abspath(sf_dir), *extra)``.

2. **Eviction.** Entries keyed to a dead SparkContext pinned stale
   DataFrames (and their persisted RDD storage handles) forever in a
   long process that restarts sessions.  Every cache dict registers
   itself via :func:`register_cache`; :func:`memo_key` evicts (and
   best-effort unpersists) entries from OTHER applicationIds on the
   way in, and :func:`clear_caches` is the explicit between-corpora
   hook for drivers and tests.

Results never change: these dicts memoize *lineage*, not rows — a miss
rebuilds the identical plan from the parquet inputs.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

#: every module-level memo dict registers itself here so eviction and
#: clear_caches() see one authoritative list.
_REGISTERED: list[dict] = []


def register_cache(d: dict) -> dict:
    """Register a module-level memo dict for eviction/clearing."""
    _REGISTERED.append(d)
    return d


def _unpersist(value: Any) -> None:
    """Best-effort unpersist of a memo value: a DataFrame, a tuple of
    DataFrames, or a non-DataFrame (path string) — the entry's context
    may already be dead, in which case dropping the reference is all
    the cleanup there is."""
    values = value if isinstance(value, (tuple, list)) else (value,)
    for v in values:
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:  # noqa: BLE001 — dead SparkContext
                pass


def memo_key(spark: SparkSession, sf_dir: str, *extra: Any) -> tuple:
    """Canonical memo key: ``(applicationId, abspath(sf_dir), *extra)``.

    applicationId, not ``id(spark)``: a recycled object address after a
    session restart must not resurrect DataFrames bound to the dead
    session.  As a side effect, entries made under a *different*
    applicationId are evicted from every registered cache — they can
    never be served again and would otherwise pin storage for the
    process lifetime (ADVICE r8)."""
    app = spark.sparkContext.applicationId
    for d in _REGISTERED:
        # list(d) + pop(k, None): two threads may see the same stale
        # key, and only one of them gets to pop it.
        for k in list(d):
            if k[0] != app:
                _unpersist(d.pop(k, None))
    return (app, os.path.abspath(sf_dir)) + extra


def clear_caches() -> None:
    """Unpersist and drop every memoized relation — the explicit hook
    for a driver or test iterating multiple corpora in one session
    (entries also go stale if files under sf_dir change mid-session;
    this is the reset button for that case)."""
    for d in _REGISTERED:
        for k in list(d):
            _unpersist(d.pop(k, None))
