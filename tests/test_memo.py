"""The shared memo discipline (memo.py, ADVICE r8): one key builder
normalizing corpus paths, stale-application eviction on insert, and an
explicit clear_caches() hook for multi-corpus drivers."""

from __future__ import annotations

from firebase_realtime_database_backup_spark import memo


def test_memo_key_normalizes_paths(spark):
    """Relative and absolute spellings of one corpus must map to one
    key — the round-8 pHash/FastSS caches double-built on this."""
    a = memo.memo_key(spark, "/root/testdata/sf0.001")
    b = memo.memo_key(spark, "/root/testdata/../testdata/sf0.001/")
    assert a == b
    assert a[0] == spark.sparkContext.applicationId


def test_memo_key_evicts_stale_application_entries(spark):
    """Entries keyed to a dead applicationId can never be served again;
    memo_key must drop them from every registered cache on the way in."""
    d = memo.register_cache({})
    try:
        d[("app-from-a-previous-life", "/x")] = "stale"
        live_key = memo.memo_key(spark, "/root/testdata/sf0.001")
        assert ("app-from-a-previous-life", "/x") not in d
        d[live_key] = "live"
        memo.memo_key(spark, "/root/testdata/sf0.001")
        assert d[live_key] == "live"  # same-app entries survive
    finally:
        # identity removal: list.remove() compares by ==, and an emptied
        # temp dict equals every other emptied registered cache
        memo._REGISTERED[:] = [x for x in memo._REGISTERED if x is not d]


def test_memo_key_eviction_two_threads(spark):
    """Two threads evicting the same stale keys at once: each key is
    popped by exactly one of them, and neither raises."""
    import sys
    import threading

    d = memo.register_cache({})
    errors: list[BaseException] = []
    start = threading.Barrier(2)

    def evict():
        start.wait()
        try:
            memo.memo_key(spark, "corpus")
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(20):
            d.update({("app-from-a-previous-life", f"/x{i}"): i for i in range(5000)})
            threads = [threading.Thread(target=evict) for _ in range(2)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert not errors, errors
            assert not d
    finally:
        sys.setswitchinterval(interval)
        memo._REGISTERED[:] = [x for x in memo._REGISTERED if x is not d]


def test_clear_caches_unpersists_dataframes(spark):
    """clear_caches() must unpersist cached relations (DataFrames and
    tuples of them) and empty every registered dict."""
    d = memo.register_cache({})
    try:
        df = spark.range(10).cache()
        df.count()
        assert df.storageLevel.useMemory
        d[memo.memo_key(spark, "/tmp")] = df
        d[memo.memo_key(spark, "/tmp2")] = (spark.range(5).cache(), "path")
        memo.clear_caches()
        assert not d
        assert not df.storageLevel.useMemory
    finally:
        memo._REGISTERED[:] = [x for x in memo._REGISTERED if x is not d]


def test_all_operator_caches_registered():
    """Every module-level memo dict in the operator modules must be
    registered — an unregistered cache silently escapes eviction."""
    import re

    import firebase_realtime_database_backup_spark.operators.dedup as dd
    import firebase_realtime_database_backup_spark.operators.multimodal as mm
    import firebase_realtime_database_backup_spark.operators.relational as rel
    import firebase_realtime_database_backup_spark.operators.text as tx

    registered = {id(d) for d in memo._REGISTERED}
    for mod in (dd, mm, rel, tx):
        src = open(mod.__file__).read()
        for name in re.findall(r"^(_[A-Z_]+(?:_CACHE|_TABLES)):", src, re.M):
            assert id(getattr(mod, name)) in registered, (
                f"{mod.__name__}.{name} is not register_cache()d"
            )
