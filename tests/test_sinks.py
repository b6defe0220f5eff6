"""Snapshot + writeback sink tests: export→import roundtrip identity
(the reference's implicit invariant, SURVEY.md §5.2), manifest
consistency, AIMD writeback, split-on-failure."""

import json
import sys
import threading
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pytest

from firebase_realtime_database_backup_spark.sinks.snapshot import (
    read_manifest,
    read_snapshot,
    snapshot_dataset,
    write_snapshot,
)
from firebase_realtime_database_backup_spark.sinks import writeback as wb
from firebase_realtime_database_backup_spark.sinks.writeback import writeback
from firebase_realtime_database_backup_spark.sources.firebase import (
    GET_RETRIES,
    FakeFirebase,
    FirebaseTransportError,
    extract,
    extract_table,
)
from firebase_realtime_database_backup_spark.sources.tree import (
    path_depth,
    rows_from_dict,
    tree_frame,
    tree_table,
    tree_to_dict,
)

TREE = {
    "users": {f"u{i:02d}": {"name": f"user{i}", "xp": i * 7} for i in range(25)},
    "rooms": {"lobby": {"cap": 10}, "vip": {"cap": 2, "locked": True}},
    "motd": "welcome",
}


def tree_df(spark, d):
    """The tree DataFrame of a nested dict."""
    return tree_frame(spark, tree_table(rows_from_dict(d)))


def test_snapshot_roundtrip(spark, tmp_path):
    src = extract(spark, FakeFirebase(TREE))
    out = str(tmp_path / "snap")
    write_snapshot(src.toArrow(), out)
    back = read_snapshot(spark, out)
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0


def test_snapshot_manifest(spark, tmp_path):
    src = extract(spark, FakeFirebase(TREE))
    out = str(tmp_path / "snap")
    write_snapshot(src.toArrow(), out)
    manifest = read_manifest(spark, out)
    total = sum(r.n_rows for r in manifest.collect())
    assert total == src.count()
    paths = {r.path for r in manifest.collect()}
    assert "/users" in paths and "/rooms" in paths


def test_snapshot_partition_pruning(spark, tmp_path):
    """Reading one top-level subtree must touch only its partition dir —
    the 100 TB restore-one-subtree contract."""
    src = extract(spark, FakeFirebase(TREE))
    out = str(tmp_path / "snap")
    write_snapshot(src.toArrow(), out)
    raw = spark.read.parquet(str(tmp_path / "snap" / "tree"))
    one = raw.filter("top = 'users'")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "users" in plan
    assert one.count() > 0 and one.count() < raw.count()


class SlowPaths(FakeFirebase):
    """FakeFirebase whose GETs of the `slow` paths take longer, so that
    an extract's threads finish their units in an order it chooses."""

    def __init__(self, tree: dict, slow: set[str], **kw) -> None:
        super().__init__(tree, **kw)
        self.slow = slow

    def get(self, path: str, **kw):
        time.sleep(0.05 if path in self.slow else 0.001)
        return super().get(path, **kw)


def _snapshot_bytes(root) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def test_snapshot_bytes_do_not_depend_on_row_order(tmp_path):
    """Two extracts of one database whose units finish in different
    orders give tables with the same rows in different orders; their
    snapshots must be byte-identical, part files and manifest alike.
    The "a" children are each too large to share a page, so each is
    its own unit, and every unit's rows land in the one `top=a` file."""
    tree = {
        "a": {f"c{i}": {"v": "x" * 60, "n": i} for i in range(6)},
        "b": {f"k{i}": i for i in range(5)},
        "m": "scalar",
    }
    out = tmp_path / "snap"
    tables, written = [], []
    for slow in ({"/a/c0", "/a/c1"}, {"/a/c4", "/a/c5", "/b"}):
        client = SlowPaths(tree, slow, max_payload_bytes=100)
        tables.append(extract_table(client, parallelism=4))
        write_snapshot(tables[-1], str(out))
        written.append(_snapshot_bytes(out))
    assert tables[0].to_pylist() != tables[1].to_pylist(), "same order: no test"
    assert sorted(tables[0].to_pylist(), key=str) == sorted(
        tables[1].to_pylist(), key=str
    )
    assert written[0] == written[1]
    assert any(name.startswith("tree/top=a/") for name in written[0])


def test_export_import_identity(spark, tmp_path):
    """Full pipeline: fake server → extract → snapshot → restore into an
    empty fake server → identical tree."""
    out = str(tmp_path / "snap")
    write_snapshot(extract(spark, FakeFirebase(TREE)).toArrow(), out)
    dst = FakeFirebase({})
    stats = writeback(snapshot_dataset(out), lambda: dst)
    assert dst.tree == TREE
    assert stats.keys_written > 0


def test_writeback_aimd_halving(spark, tree_dataset):
    """Batches over the server's limit are halved until they fit
    (src/RestoreProcessor.php:83 semantics)."""
    data = {"items": {f"i{j:03d}": j for j in range(40)}}
    dst = FakeFirebase({}, fail_updates_over=3)
    stats = writeback(
        tree_dataset(tree_df(spark, data)), lambda: dst, max_batch=16
    )
    assert dst.tree == data
    assert stats.halvings > 0
    assert max(n for _, n in dst.update_calls if n) <= 16


def test_writeback_split_on_failure(spark, tree_dataset):
    """A single-key update that still fails (oversized subtree) descends
    one level and patches children (src/RestoreProcessor.php:86-94)."""
    big_child = {"blob": {f"b{j:02d}": "x" * 30 for j in range(20)}}
    dst = FakeFirebase({}, fail_update_bytes=300)
    stats = writeback(
        tree_dataset(tree_df(spark, big_child)), lambda: dst
    )
    assert dst.tree == big_child
    assert stats.splits >= 1


def test_writeback_scalar_failure_raises(spark, tree_dataset):
    """A one-key scalar PATCH that keeps failing is retried GET_RETRIES
    times, then raises an error naming the path, key and attempts."""
    dst = FakeFirebase({}, fail_update_bytes=2)
    with pytest.raises(
        FirebaseTransportError,
        match=f"PATCH of key 'k' at '/' failed after {GET_RETRIES} attempts",
    ):
        writeback(
            tree_dataset(tree_df(spark, {"k": "a-very-long-scalar-value"})),
            lambda: dst,
        )
    assert dst.update_calls == [("/", 1)] * GET_RETRIES


def test_writeback_scalar_transient_failure_is_retried(spark, tree_dataset):
    """One failed PATCH of a one-key scalar batch (a path that starts at
    batch size 1) no longer aborts the restore."""

    class FailsOnce(FakeFirebase):
        failed = False

        def update(self, path: str, data: dict) -> None:
            if path == "/a" and not self.failed:
                self.failed = True
                raise FirebaseTransportError("injected transient failure")
            super().update(path, data)

    dst = FailsOnce({})
    stats = writeback(tree_dataset(tree_df(spark, {"a": {"x": 1}})), lambda: dst)
    assert dst.failed and dst.tree == {"a": {"x": 1}}
    assert stats.patches == 2 and stats.halvings == stats.splits == 0


class Recorder:
    """Destination for the concurrent driver-side writeback: writes one
    FakeFirebase after sleeping a few ms per PATCH, logs each PATCH as
    (path, keys, start, end) and counts the clients asked for."""

    def __init__(self, store: FakeFirebase, delay_s: float = 0.005) -> None:
        self.store, self.delay_s = store, delay_s
        self.calls: list[tuple[str, list[str], float, float]] = []
        self.clients = 0
        self._lock = threading.Lock()

    def client(self) -> "Recorder":
        with self._lock:
            self.clients += 1
        return self

    def update(self, path: str, data: dict) -> None:
        start = time.perf_counter()
        time.sleep(self.delay_s)
        try:
            self.store.update(path, data)
        finally:
            with self._lock:
                self.calls.append((path, sorted(data), start, time.perf_counter()))

    def max_in_flight(self, path: str | None = None) -> int:
        events = sorted(
            (t, step)
            for p, _, start, end in self.calls
            if path is None or p == path
            for t, step in ((start, 1), (end, -1))
        )
        best = cur = 0
        for _, step in events:
            cur += step
            best = max(best, cur)
        return best


def assert_depth_ordered(calls) -> None:
    for p, _, _, end in calls:
        for q, _, start, _ in calls:
            if path_depth(q) > path_depth(p):
                assert start >= end, f"{q} started before {p} returned"


def test_writeback_concurrent_depth_ordered(spark, tree_dataset, monkeypatch):
    """Driver-side restore on 4 threads: the store equals the source,
    PATCHes overlap but never exceed the thread count, every depth level
    waits for the one above, and a path wider than max_batch is written
    as several concurrent key ranges."""
    monkeypatch.setattr(wb, "RESTORE_CONNECTIONS", 4)
    rec = Recorder(FakeFirebase({}))
    stats = writeback(
        tree_dataset(tree_df(spark, TREE)), rec.client, max_batch=8
    )
    assert rec.store.tree == TREE
    assert stats.patches == len(rec.calls)
    assert stats.keys_written == sum(len(keys) for _, keys, _, _ in rec.calls)
    assert 1 <= rec.clients <= 4
    assert 1 < rec.max_in_flight() <= 4
    assert_depth_ordered(rec.calls)
    # /users has 25 keys: one range would write it one PATCH at a time
    assert rec.max_in_flight("/users") > 1
    users = [keys for p, keys, _, _ in rec.calls if p == "/users"]
    assert sorted(k for keys in users for k in keys) == sorted(TREE["users"])


def test_writeback_one_connection_is_serial(spark, tree_dataset, monkeypatch):
    monkeypatch.setattr(wb, "RESTORE_CONNECTIONS", 1)
    rec = Recorder(FakeFirebase({}), delay_s=0.002)
    writeback(
        tree_dataset(tree_df(spark, TREE)), rec.client, max_batch=8
    )
    assert rec.store.tree == TREE
    assert rec.max_in_flight() == 1
    assert rec.clients == 1


def test_writeback_concurrent_fault_injection(spark, tree_dataset, monkeypatch):
    """On 4 threads, each key range of a refused path halves on its own
    and still converges; an unwritable scalar still raises."""
    monkeypatch.setattr(wb, "RESTORE_CONNECTIONS", 4)
    data = {"items": {f"i{j:03d}": j for j in range(40)}}
    dst = FakeFirebase({}, fail_updates_over=3)
    stats = writeback(
        tree_dataset(tree_df(spark, data)), lambda: dst, max_batch=16
    )
    assert dst.tree == data
    assert stats.halvings > 0
    assert max(n for _, n in dst.update_calls) <= 16

    dst = FakeFirebase({}, fail_update_bytes=2)
    with pytest.raises(FirebaseTransportError):
        writeback(
            tree_dataset(
                tree_df(spark, {"k": "a-very-long-scalar-value", "j": 1})
            ),
            lambda: dst,
        )


def test_writeback_concurrent_stress(spark, tree_dataset, monkeypatch):
    """More threads than cores with a short switch interval: every key
    of every range lands exactly once and the stats add up."""
    monkeypatch.setattr(wb, "RESTORE_CONNECTIONS", 16)
    data = {
        "wide": {f"w{j:04d}": {"v": j} for j in range(1500)},
        "side": {f"s{j:02d}": j for j in range(60)},
    }
    df = tree_df(spark, data)
    rows = df.count()
    tree = tree_dataset(df)
    dst = FakeFirebase({})
    result: dict = {}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        worker = threading.Thread(
            target=lambda: result.update(stats=writeback(
                tree, lambda: dst, max_batch=40
            ))
        )
        worker.start()
        worker.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not worker.is_alive()
    assert dst.tree == data
    assert result["stats"].keys_written == rows == sum(n for _, n in dst.update_calls)


def test_writeback_reads_in_depth_chunks(spark, tree_dataset, monkeypatch):
    """The driver reads the tree in contiguous depth chunks of at most
    RESTORE_CHUNK_ROWS rows (a wider level alone); a restore read in
    several chunks still equals the source and keeps the depth order."""
    monkeypatch.setattr(wb, "RESTORE_CHUNK_ROWS", 30)
    df = tree_df(spark, TREE)
    # depth 1: 3 rows, depth 2: 27 rows, depth 3: 53 rows
    assert dict(df.groupBy("depth").count().collect()) == {1: 3, 2: 27, 3: 53}
    tree = tree_dataset(df)
    assert wb._depth_chunks(tree) == [(1, 2), (3, 3)]
    rec = Recorder(FakeFirebase({}), delay_s=0.001)
    writeback(tree, rec.client, max_batch=8)
    assert rec.store.tree == TREE
    assert_depth_ordered(rec.calls)


def test_snapshot_restore_reads_in_depth_chunks(spark, tmp_path, monkeypatch):
    """A snapshot read back in several depth chunks, each a filtered
    scan of its parquet files, restores equal to the source in depth
    order."""
    monkeypatch.setattr(wb, "RESTORE_CHUNK_ROWS", 30)
    out = str(tmp_path / "snap")
    write_snapshot(tree_df(spark, TREE).toArrow(), out)
    tree = snapshot_dataset(out)
    assert wb._depth_chunks(tree) == [(1, 2), (3, 3)]
    rec = Recorder(FakeFirebase({}), delay_s=0.001)
    writeback(tree, rec.client, max_batch=8)
    assert rec.store.tree == TREE
    assert_depth_ordered(rec.calls)


def test_restore_missing_tree_dir_is_named(spark, tmp_path):
    """A snapshot directory without its tree/ data directory raises
    FileNotFoundError naming the directory."""
    from firebase_realtime_database_backup_spark import api

    out = tmp_path / "not_a_snapshot"
    out.mkdir()
    with pytest.raises(FileNotFoundError, match="not_a_snapshot.*has no tree/"):
        api.do_restore(spark, str(out), lambda: FakeFirebase({}))


def test_restore_unreadable_uri_scheme_is_named(spark):
    """A URI scheme pyarrow has no filesystem for (here Hadoop's s3a)
    raises ValueError naming the URI, on restore and, since the snapshot
    writer runs on the driver too, on backup, before the extract sends
    its first request."""
    from firebase_realtime_database_backup_spark import api

    with pytest.raises(ValueError, match="s3a://bucket/snap"):
        api.do_restore(spark, "s3a://bucket/snap", lambda: FakeFirebase({}))
    client, requests = FakeFirebase(TREE), []
    get = client.get
    client.get = lambda *a, **kw: requests.append(a) or get(*a, **kw)
    with pytest.raises(ValueError, match="s3a://bucket/snap"):
        api.do_backup(spark, client, "s3a://bucket/snap")
    assert requests == []


def test_lone_surrogate_value_roundtrips(spark, tmp_path):
    """A value holding a lone UTF-16 surrogate survives extract ->
    snapshot -> restore exactly (escaped in value_json, not replaced
    by U+FFFD)."""
    tree = {"notes": {"n1": "a\ud800b", "n2": {"deep": "\udfff é"}}, "ok": "é"}
    out = str(tmp_path / "snap")
    write_snapshot(extract(spark, FakeFirebase(tree)).toArrow(), out)
    dst = FakeFirebase({})
    writeback(snapshot_dataset(out), lambda: dst)
    assert dst.tree == tree


@pytest.mark.parametrize(
    "tree", [{"bad": {"k\ud800": 1}}, {"bad\udc00": {"x": {"y": 1}}}]
)
def test_lone_surrogate_key_raises_named_error(spark, tree):
    """A key or path holding a lone surrogate cannot be escaped: the
    tree frame refuses it with an error that names the path."""
    with pytest.raises(ValueError, match=r"at path '/bad.*surrogate"):
        extract(spark, FakeFirebase(tree))


def _levels_pylist(chunk):
    """`writeback._levels` as it read its columns with `to_pylist()`:
    the oracle of the numpy-backed column reads."""
    depth = chunk.column("depth").to_numpy()
    cuts = [0, *(np.flatnonzero(depth[1:] != depth[:-1]) + 1).tolist(), len(depth)]
    for lo, hi in zip(cuts, cuts[1:]):
        rows = chunk.slice(lo, hi - lo)
        values = json.loads("[" + ",".join(rows.column("value_json").to_pylist()) + "]")
        level = defaultdict(dict)
        for path, key, value in zip(
            rows.column("path").to_pylist(), rows.column("key").to_pylist(), values
        ):
            level[path][key] = value
        yield level


def test_levels_match_pylist_form():
    """`_levels` yields the levels the `to_pylist()` form yields, over a
    multi-chunk, sliced table with non-BMP keys, an empty-string key and
    an escaped-surrogate value, and over an empty table."""
    tree = {
        "𝄞": {"": "empty key", "😀": {"a": "x\ud800"}, "k": "v\udfff"},
        "": {"x": [1, 2.5, None]},
        "plain": {f"p{i}": {"n": i, "s": "é" * (i % 3)} for i in range(12)},
    }
    rows = sorted(rows_from_dict(tree), key=lambda r: r[3])
    assert any('\\ud' in v for _, _, v, _ in rows)  # an escaped surrogate
    parts = [tree_table(rows[i : i + 7]) for i in range(0, len(rows), 7)]
    table = pa.concat_tables(parts).slice(3, len(rows) - 5)
    assert table.column("path").num_chunks > 1
    assert list(wb._levels(table)) == list(_levels_pylist(table))
    empty = tree_table([])
    assert list(wb._levels(empty)) == list(_levels_pylist(empty))


@pytest.mark.parametrize(
    "bad", ["{x", "1,2", ""], ids=["not-json", "two-values", "empty"]
)
def test_restore_names_row_that_does_not_decode(bad):
    """A snapshot row whose value_json is not one JSON value fails the
    restore with a ValueError naming its path and key, before any PATCH
    of its level."""
    rows = [("/", "a", "1", 1), ("/a", "b", bad, 2), ("/a", "c", '"v"', 2)]
    dst = FakeFirebase({})
    with pytest.raises(ValueError, match=r"tree row 'b' at path '/a'"):
        writeback(ds.dataset(tree_table(rows)), lambda: dst)
    assert dst.tree == {"a": 1}


def test_restore_refuses_rows_that_cancel():
    """Bad rows whose joined values would decode into as many values as
    the level has rows (`1,2`, `[3` and `4]` join into `[1,2,[3,4]]`)
    fail the restore at the first of them, instead of writing shifted
    values under every key."""
    rows = [
        ("/", "a", "1", 1),
        ("/a", "b", "1,2", 2),
        ("/a", "c", "[3", 2),
        ("/a", "d", "4]", 2),
    ]
    dst = FakeFirebase({})
    with pytest.raises(ValueError, match=r"tree row 'b' at path '/a'"):
        writeback(ds.dataset(tree_table(rows)), lambda: dst)
    assert dst.tree == {"a": 1}


def test_restore_accepts_what_json_loads_accepts():
    """A value that `json.loads` reads, surrounding whitespace and
    NaN included, restores to what `json.loads` gives, though it is not
    canonical JSON."""
    values = [' 1', '{"x": [1, 2]}\n', '\t"s" ', "NaN", "-0.0", '"\\ud800"', "null"]
    rows = [("/", f"k{i}", v, 1) for i, v in enumerate(values)]
    (level,) = wb._levels(tree_table(rows))
    expected = {f"k{i}": json.loads(v) for i, v in enumerate(values)}
    assert repr(level["/"]) == repr(expected)


def test_archive_roundtrip(spark, tmp_path):
    """Snapshot -> tar.gz -> unpack -> read must be identity (the
    reference's archive/decompress cycle, S11/R1)."""
    from firebase_realtime_database_backup_spark.sinks.snapshot import (
        archive_snapshot,
        read_snapshot,
        unarchive_snapshot,
        write_snapshot,
    )

    tree = tree_df(
        spark, {"users": {"u1": {"name": "a"}, "u2": 3}, "cfg": {"on": True}}
    )
    snap = str(tmp_path / "snap")
    write_snapshot(tree.toArrow(), snap)
    arch = archive_snapshot(snap)
    assert arch.endswith(".tar.gz")
    inner = unarchive_snapshot(arch, str(tmp_path / "unpacked"))
    back = read_snapshot(spark, inner)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, tree.collect()))


def test_empty_database_backup_restore_incremental(spark, tmp_path):
    """An empty database backs up to a readable empty snapshot, restores
    to an empty store, and serves as the base of an incremental backup
    (the row-less snapshot has no footer to infer a schema from)."""
    from firebase_realtime_database_backup_spark import api
    from firebase_realtime_database_backup_spark.sinks.incremental import (
        incremental_backup,
        read_delta,
    )

    snap = str(tmp_path / "snap")
    api.do_backup(spark, FakeFirebase({}), snap)
    assert read_snapshot(spark, snap).count() == 0
    assert read_manifest(spark, snap).count() == 0

    dst = FakeFirebase({})
    api.do_restore(spark, snap, lambda: dst)
    assert dst.tree == {}

    counts = incremental_backup(
        spark, extract(spark, FakeFirebase(TREE)), snap, str(tmp_path / "d1")
    )
    assert counts["removed"] == counts["changed"] == 0
    assert counts["added"] == extract(spark, FakeFirebase(TREE)).count() > 0
    empty = incremental_backup(
        spark, extract(spark, FakeFirebase({})), snap, str(tmp_path / "d2")
    )
    assert empty == {"added": 0, "removed": 0, "changed": 0}
    assert read_delta(str(tmp_path / "d2")).num_rows == 0


# ---------------------------------------------------------------------------
# Snapshot format: the driver-side writer against Spark's own writer
# ---------------------------------------------------------------------------

#: Top-level keys whose directory names Spark's partition writer escapes
#: (`%`, `=`, `:`) or keeps raw (space, non-ASCII, a leading `_`, which
#: hides a file name but not a `top=` value); the last one's name passes
#: 255 bytes once non-ASCII is percent-encoded.
AWKWARD = {
    "a b": {"x": 1, "y": {"z": [1, 2], "w": "v"}},
    "p%20q": {"n": {"m": {"l": 0}}},
    "k=v": 3,
    "c:d": {"deep": {"er": "é"}},
    "é日本": "s",
    "_hid": {"h": True},
    "L" + "日" * 40: {"w": 1, "u": {"t": 2}},
}


def _spark_snapshot(spark, tree, out, manifest_parts=None):
    """A snapshot as the Spark writer built it: `partitionBy("top")`
    parquet, and a manifest from `input_file_name()` over the files,
    in `manifest_parts` JSON files if given (else as AQE coalesces)."""
    import os

    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark.sinks.snapshot import (
        DATA_DIR,
        MANIFEST_DIR,
    )

    top = F.when(F.col("path") == "/", F.col("key")).otherwise(
        F.split(F.col("path"), "/").getItem(1)
    )
    data = os.path.join(out, DATA_DIR)
    tree.withColumn("top", top).repartition("top").write.partitionBy(
        "top"
    ).parquet(data)
    manifest = (
        spark.read.parquet(data)
        .withColumn("part_file", F.input_file_name())
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sort_array(F.collect_set("part_file")).alias("part_files"),
        )
    )
    if manifest_parts:
        manifest = manifest.repartition(manifest_parts)
    manifest.write.json(os.path.join(out, MANIFEST_DIR))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _local(uri):
    from urllib.parse import unquote, urlparse

    assert uri.startswith("file:///"), uri
    return unquote(urlparse(uri).path)


def test_snapshot_format_matches_spark_writer(spark, tmp_path):
    """Directory names, manifest and rows of a driver-written snapshot
    equal those of Spark's own partitioned writer for the same rows, and
    each reader sees the same tree in both."""
    import os

    import pyarrow.parquet as pq

    from firebase_realtime_database_backup_spark.sinks.incremental import table_diff

    src = tree_df(spark, AWKWARD)
    new, old = str(tmp_path / "new"), str(tmp_path / "old")
    write_snapshot(src.toArrow(), new)
    _spark_snapshot(spark, src, old)

    def dirs(out):
        return sorted(d for d in os.listdir(os.path.join(out, "tree")) if "=" in d)

    assert dirs(new) == dirs(old)
    assert "top=p%2520q" in dirs(new) and "top=k%3Dv" in dirs(new)
    assert "top=L" + "日" * 40 in dirs(new)

    for out in (new, old):
        assert _rows(read_snapshot(spark, out)) == _rows(src)
        table = snapshot_dataset(out).to_table()
        assert sorted(zip(*table.to_pydict().values())) == _rows(src)
        back = read_snapshot(spark, out).toArrow()
        assert table_diff(src.toArrow(), back).num_rows == 0

    manifests = {
        out: {r.path: r for r in read_manifest(spark, out).collect()}
        for out in (new, old)
    }
    assert {(p, r.n_rows) for p, r in manifests[new].items()} == {
        (p, r.n_rows) for p, r in manifests[old].items()
    }
    for path, row in manifests[new].items():
        # the same URI form as input_file_name(): only the file names and
        # the snapshot directory differ
        assert [os.path.dirname(u).replace("/new/", "/") for u in row.part_files] == [
            os.path.dirname(u).replace("/old/", "/")
            for u in manifests[old][path].part_files
        ]
        files = [_local(u) for u in row.part_files]
        held = sum(
            pq.read_table(f).column("path").to_pylist().count(path) for f in files
        )
        assert held == row.n_rows


def test_snapshot_overwrite_leaves_no_stale_file(spark, tmp_path):
    """Overwriting a snapshot replaces every data and manifest file: no
    directory or file of the first write remains."""
    import os

    out = str(tmp_path / "snap")
    write_snapshot(tree_df(spark, AWKWARD).toArrow(), out)
    write_snapshot(tree_df(spark, TREE).toArrow(), out)

    listed = {
        _local(u) for r in read_manifest(spark, out).collect() for u in r.part_files
    }
    on_disk = {
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(out, "tree"))
        for f in fs
    }
    assert on_disk == listed
    assert sorted(os.listdir(os.path.join(out, "tree"))) == [
        f"top={k}" for k in sorted(TREE)
    ]
    assert len(os.listdir(os.path.join(out, "_manifest"))) == 1
    assert tree_to_dict(read_snapshot(spark, out).toArrow()) == TREE


def test_snapshot_empty_tree_is_readable(spark, tmp_path):
    """An empty tree, also written over a non-empty snapshot, reads back
    as an empty snapshot through every reader."""
    from firebase_realtime_database_backup_spark.sources.tree import tree_table

    out = str(tmp_path / "snap")
    write_snapshot(tree_df(spark, TREE).toArrow(), out)
    write_snapshot(tree_table([]), out)
    assert read_snapshot(spark, out).count() == 0
    assert read_manifest(spark, out).count() == 0
    assert snapshot_dataset(out).count_rows() == 0


def test_snapshot_failed_write_leaves_no_manifest(spark, tmp_path, monkeypatch):
    """A write that raises after its data files are written removes
    them and writes no manifest."""
    import os

    from firebase_realtime_database_backup_spark.sinks import snapshot

    def boom(*_):
        raise OSError("injected")

    out = str(tmp_path / "snap")
    write_snapshot(tree_df(spark, TREE).toArrow(), out)
    monkeypatch.setattr(snapshot, "_manifest_lines", boom)
    with pytest.raises(OSError, match="injected"):
        write_snapshot(tree_df(spark, AWKWARD).toArrow(), out)
    assert os.listdir(out) == []


def test_checkpoint_of_awkward_keys_passes_expire_latch(spark, tmp_path):
    """A checkpoint written by the driver-side writer, and one whose
    snapshot and multi-part manifest Spark's writer wrote, pass
    expire_chain's integrity latch (manifest rows == snapshot rows); the
    Spark-written one with a manifest part file missing is refused."""
    import glob
    import os
    import shutil

    from firebase_realtime_database_backup_spark.sinks.incremental import (
        checkpoint_chain,
        expire_chain,
        incremental_backup,
    )

    full, delta, ckpt = (str(tmp_path / d) for d in ("full", "delta", "ckpt"))
    write_snapshot(tree_df(spark, TREE).toArrow(), full)
    current = tree_df(spark, {**TREE, **AWKWARD})
    incremental_backup(spark, current, full, delta)
    chain_copy = [str(tmp_path / "full2"), str(tmp_path / "delta2")]
    for src, dst in zip((full, delta), chain_copy):
        shutil.copytree(src, dst)

    # Spark-written checkpoint: no provenance sidecar, so the latch also
    # replays the (copied) chain and compares contents
    spark_ckpt, cut = str(tmp_path / "spark_ckpt"), str(tmp_path / "cut")
    _spark_snapshot(spark, current, spark_ckpt, manifest_parts=3)
    shutil.copytree(spark_ckpt, cut)
    parts = sorted(glob.glob(os.path.join(cut, "_manifest", "*.json")))
    assert len(parts) == 3
    os.remove(parts[0])
    with pytest.raises(ValueError, match="manifest"):
        expire_chain(cut, *chain_copy[:1], chain_copy[1:])
    assert all(os.path.isdir(d) for d in chain_copy)
    assert expire_chain(spark_ckpt, chain_copy[0], chain_copy[1:]) == chain_copy

    checkpoint_chain(full, [delta], ckpt)
    assert expire_chain(ckpt, full, [delta]) == [full, delta]
    assert _rows(read_snapshot(spark, ckpt)) == _rows(current)
