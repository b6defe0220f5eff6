"""Snapshot + writeback sink tests: export→import roundtrip identity
(the reference's implicit invariant, SURVEY.md §5.2), manifest
consistency, AIMD writeback, split-on-failure."""

import json

import pytest

from firebase_realtime_database_backup_spark.sinks.snapshot import (
    read_manifest,
    read_snapshot,
    write_snapshot,
)
from firebase_realtime_database_backup_spark.sinks.writeback import (
    JsonlAuditClient,
    restore_snapshot,
    writeback,
)
from firebase_realtime_database_backup_spark.sources.firebase import (
    FakeFirebase,
    FirebaseTransportError,
    extract,
)
from firebase_realtime_database_backup_spark.sources.tree import (
    tree_from_dict,
    tree_to_dict,
)

TREE = {
    "users": {f"u{i:02d}": {"name": f"user{i}", "xp": i * 7} for i in range(25)},
    "rooms": {"lobby": {"cap": 10}, "vip": {"cap": 2, "locked": True}},
    "motd": "welcome",
}


def test_snapshot_roundtrip(spark, tmp_path):
    src = extract(spark, FakeFirebase(TREE))
    out = str(tmp_path / "snap")
    write_snapshot(src, out)
    back = read_snapshot(spark, out)
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0


def test_snapshot_manifest(spark, tmp_path):
    src = extract(spark, FakeFirebase(TREE))
    out = str(tmp_path / "snap")
    write_snapshot(src, out)
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
    write_snapshot(src, out)
    raw = spark.read.parquet(str(tmp_path / "snap" / "tree"))
    one = raw.filter("top = 'users'")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "users" in plan
    assert one.count() > 0 and one.count() < raw.count()


def test_export_import_identity(spark, tmp_path):
    """Full pipeline: fake server → extract → snapshot → restore into an
    empty fake server → identical tree."""
    out = str(tmp_path / "snap")
    write_snapshot(extract(spark, FakeFirebase(TREE)), out)
    dst = FakeFirebase({})
    # driver-side restore so the in-memory destination observes writes
    stats = writeback(read_snapshot(spark, out), lambda: dst, driver_side=True)
    assert dst.tree == TREE
    assert stats.keys_written > 0


def test_writeback_aimd_halving(spark):
    """Batches over the server's limit are halved until they fit
    (src/RestoreProcessor.php:83 semantics)."""
    data = {"items": {f"i{j:03d}": j for j in range(40)}}
    dst = FakeFirebase({}, fail_updates_over=3)
    stats = writeback(
        tree_from_dict(spark, data), lambda: dst, driver_side=True, max_batch=16
    )
    assert dst.tree == data
    assert stats.halvings > 0
    assert max(n for _, n in dst.update_calls if n) <= 16


def test_writeback_split_on_failure(spark):
    """A single-key update that still fails (oversized subtree) descends
    one level and patches children (src/RestoreProcessor.php:86-94)."""
    big_child = {"blob": {f"b{j:02d}": "x" * 30 for j in range(20)}}
    dst = FakeFirebase({}, fail_update_bytes=300)
    stats = writeback(
        tree_from_dict(spark, big_child), lambda: dst, driver_side=True
    )
    assert dst.tree == big_child
    assert stats.splits >= 1


def test_writeback_scalar_failure_raises(spark):
    dst = FakeFirebase({}, fail_update_bytes=2)
    with pytest.raises(Exception):
        writeback(
            tree_from_dict(spark, {"k": "a-very-long-scalar-value"}),
            lambda: dst,
            driver_side=True,
        )


def test_writeback_distributed_foreachpartition(spark, tmp_path):
    """The executor-side path: updates logged from Python workers, then
    replayed — converged state must equal the source tree."""
    log_dir = tmp_path / "oplog"
    log_dir.mkdir()
    src = extract(spark, FakeFirebase(TREE))
    log_dir_s = str(log_dir)
    writeback(src, lambda: JsonlAuditClient(log_dir_s), max_batch=5)
    replay = FakeFirebase({})
    ops = []
    for f in sorted(log_dir.glob("*.jsonl")):
        for line in f.read_text().splitlines():
            ops.append(json.loads(line))
    assert ops, "no update calls logged from executors"
    for op in ops:
        replay.update(op["path"], op["data"])
    assert replay.tree == TREE


def test_archive_roundtrip(spark, tmp_path):
    """Snapshot -> tar.gz -> unpack -> read must be identity (the
    reference's archive/decompress cycle, S11/R1)."""
    from firebase_realtime_database_backup_spark.sinks.snapshot import (
        archive_snapshot,
        read_snapshot,
        unarchive_snapshot,
        write_snapshot,
    )
    from firebase_realtime_database_backup_spark.sources.tree import tree_from_dict

    tree = tree_from_dict(
        spark, {"users": {"u1": {"name": "a"}, "u2": 3}, "cfg": {"on": True}}
    )
    snap = str(tmp_path / "snap")
    write_snapshot(tree, snap)
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
    api.do_restore(spark, snap, lambda: dst, driver_side=True)
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
    assert read_delta(spark, str(tmp_path / "d2")).count() == 0
