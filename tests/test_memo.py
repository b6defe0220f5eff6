"""The session memo (memo.session_memo): one key normalizing corpus
paths, eviction when the applicationId changes, one build per key under
concurrency, an explicit clear_caches() hook, and a lint that keeps
every session memo on the decorator."""

from __future__ import annotations

import ast
import os
import sys
import threading
import time

import pytest

from firebase_realtime_database_backup_spark import memo

SF = "/root/testdata/sf0.001"
STALE_APP = "app-from-a-previous-life"


@pytest.fixture
def memoized():
    """Factory for throwaway memoized functions that count their builds;
    their dicts leave memo._REGISTERED when the test ends."""
    made = []

    def make(build=lambda spark, sf_dir, *extra: object(), valid=None):
        calls = []

        def fn(spark, sf_dir, *extra):
            calls.append((sf_dir,) + extra)
            return build(spark, sf_dir, *extra)

        wrapped = memo.session_memo(fn, valid=valid)
        wrapped.calls = calls
        made.append(wrapped)
        return wrapped

    yield make
    # identity removal: list.remove() compares by ==, and an emptied
    # temp dict equals every other empty registered memo
    dead = {id(f.cache) for f in made}
    memo._REGISTERED[:] = [d for d in memo._REGISTERED if id(d) not in dead]


def test_memo_key_normalizes_paths(spark, memoized):
    """Relative and absolute spellings of one corpus must map to one
    key — the round-8 pHash/FastSS caches double-built on this."""
    f = memoized()
    a = f(spark, SF)
    assert f(spark, os.path.join(SF, "..", os.path.basename(SF), "")) is a
    assert f(spark, os.path.relpath(SF)) is a
    assert len(f.calls) == 1
    assert list(f.cache) == [(spark.sparkContext.applicationId, SF)]
    f(spark, SF, "extra")
    assert len(f.calls) == 2  # extra args are part of the key


def test_memo_key_evicts_stale_application_entries(spark, memoized):
    """Entries keyed to a dead applicationId can never be served again;
    the first call under a new applicationId must unpersist and drop
    them from every memo, and same-app entries must then survive."""
    f = memoized()
    g = memoized()
    stale = spark.range(3).cache()
    stale.count()
    f.cache[(STALE_APP, "/x")] = stale
    g.cache[(STALE_APP, "/y")] = (stale, "path")
    memo._APP = STALE_APP  # as if the previous session made them
    live = f(spark, SF)
    assert (STALE_APP, "/x") not in f.cache
    assert not g.cache
    assert not stale.storageLevel.useMemory
    assert f(spark, SF) is live  # same-app entries survive
    assert len(f.calls) == 1


def test_memo_key_eviction_two_threads(spark, memoized):
    """Two threads arriving under a new applicationId at once: the stale
    entries are dropped exactly once, neither thread raises, and the
    live entry is built once."""
    f = memoized()
    errors: list[BaseException] = []
    start = threading.Barrier(2)

    def call():
        start.wait()
        try:
            f(spark, "corpus")
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(20):
            f.cache.clear()
            f.cache.update({(STALE_APP, f"/x{i}"): i for i in range(5000)})
            memo._APP = STALE_APP
            f.calls.clear()
            threads = [threading.Thread(target=call) for _ in range(2)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert not errors, errors
            assert list(f.cache) == [
                (spark.sparkContext.applicationId, os.path.abspath("corpus"))
            ]
            assert len(f.calls) == 1
    finally:
        sys.setswitchinterval(interval)


def test_concurrent_callers_build_once(spark, memoized):
    """Threads asking for one key at the same time run the builder once:
    the late callers wait for the first caller's value and reuse it."""

    def slow_build(spark, sf_dir):
        time.sleep(0.3)
        return object()

    f = memoized(slow_build)
    start = threading.Barrier(4)
    got: list[object] = []

    def call():
        start.wait()
        got.append(f(spark, SF))

    threads = [threading.Thread(target=call) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert len(got) == 4 and all(v is got[0] for v in got)
    assert len(f.calls) == 1


def test_none_and_invalid_values_are_not_served(spark, memoized):
    """A None result is returned but not stored; a stored value the
    valid= predicate rejects is rebuilt."""
    empty = memoized(lambda spark, sf_dir: None)
    assert empty(spark, SF) is None and empty(spark, SF) is None
    assert len(empty.calls) == 2 and not empty.cache

    ok = {"flag": True}
    f = memoized(valid=lambda v: ok["flag"])
    a = f(spark, SF)
    assert f(spark, SF) is a
    ok["flag"] = False
    assert f(spark, SF) is not a
    assert len(f.calls) == 2


def test_clear_caches_unpersists_dataframes(spark, memoized):
    """clear_caches() must unpersist cached relations (DataFrames and
    tuples of them) and empty every registered dict."""
    df = spark.range(10).cache()
    df.count()
    pair = (spark.range(5).cache(), "path")
    pair[0].count()
    f = memoized(lambda spark, sf_dir: df if sf_dir == "/tmp" else pair)
    assert f(spark, "/tmp") is df
    assert f(spark, "/tmp2") is pair
    assert df.storageLevel.useMemory and pair[0].storageLevel.useMemory
    memo.clear_caches()
    assert not f.cache
    assert not any(memo._REGISTERED)
    assert not df.storageLevel.useMemory
    assert not pair[0].storageLevel.useMemory


@pytest.mark.parametrize("fixture", ["_quarantine_fixture", "_log_fixture"])
def test_ingest_fixture_built_once_for_both_path_spellings(spark, fixture):
    """A relative and an absolute spelling of one corpus must build (and
    write) an ingest fixture once — these two keyed on the raw sf_dir
    before they moved onto session_memo."""
    from firebase_realtime_database_backup_spark.sources import ingest

    build = getattr(ingest, fixture)
    memo.clear_caches()
    path = build(spark, SF)
    written = os.stat(path).st_mtime_ns
    assert build(spark, os.path.relpath(SF)) == path
    assert len(build.cache) == 1
    assert os.stat(path).st_mtime_ns == written, "fixture was rewritten"


def test_no_module_level_memo_dicts():
    """Every session memo goes through @session_memo.  A module-level
    empty dict in the engine package is a hand-rolled memo that
    clear_caches() and stale-application eviction never reach; the
    only exception is catalog._SCHEMAS, which is keyed by file content,
    not by session."""
    import firebase_realtime_database_backup_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = set()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            mod = os.path.relpath(path, root)[:-3].replace(os.sep, ".")
            for node in ast.parse(open(path).read()).body:
                if isinstance(node, ast.Assign):
                    targets, value = node.targets, node.value
                elif isinstance(node, ast.AnnAssign) and node.value:
                    targets, value = [node.target], node.value
                else:
                    continue
                empty_dict = any(
                    (isinstance(n, ast.Dict) and not n.keys)
                    or (
                        isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Name)
                        and n.func.id == "dict"
                        and not n.args
                        and not n.keywords
                    )
                    for n in ast.walk(value)
                )
                if empty_dict:
                    for t in targets:
                        found.add(f"{mod}.{ast.unparse(t)}")
    assert found == {"catalog._SCHEMAS"}, (
        "memoize with @session_memo, never a module dict: "
        f"{sorted(found - {'catalog._SCHEMAS'})}"
    )
