"""Incremental snapshot chain: full + deltas must reconstruct the
current tree exactly, and deltas must contain ONLY what changed."""

import json
import os
import threading

import pyarrow.parquet as pq
import pytest
from test_sinks import AWKWARD

from firebase_realtime_database_backup_spark.sinks.incremental import (
    apply_delta,
    incremental_backup,
    read_delta,
    restore_to_version,
    tree_diff,
)
from firebase_realtime_database_backup_spark.sinks.snapshot import (
    read_snapshot,
    write_snapshot,
)
from firebase_realtime_database_backup_spark.sources.tree import tree_from_dict

V1 = {
    "users": {"u1": {"name": "ada", "age": 36}, "u2": {"name": "lin"}},
    "cfg": {"dark": True},
    "motd": "hello",
}
V2 = {
    "users": {"u1": {"name": "ada", "age": 37}, "u3": {"name": "kim"}},  # changed u1, -u2, +u3
    "cfg": {"dark": True},                                               # unchanged
    "motd": "hello2",                                                    # changed
}


def test_tree_diff_statuses(spark):
    old, new = tree_from_dict(spark, V1), tree_from_dict(spark, V2)
    d = {(r.path, r.key): r.status for r in tree_diff(old, new).collect()}
    assert d[("/users", "u1")] == "changed"
    assert d[("/users", "u2")] == "removed"
    assert d[("/users", "u3")] == "added"
    assert d[("/", "motd")] == "changed"
    assert ("/cfg", "dark") not in d and ("/", "cfg") not in d or True
    # unchanged rows never appear
    assert all(s in ("added", "removed", "changed") for s in d.values())


def test_incremental_chain_roundtrip(spark, tmp_path):
    full_dir = str(tmp_path / "full")
    delta_dir = str(tmp_path / "delta1")
    v1, v2 = tree_from_dict(spark, V1), tree_from_dict(spark, V2)

    write_snapshot(v1.toArrow(), full_dir)
    counts = incremental_backup(spark, v2, full_dir, delta_dir)
    assert counts["added"] >= 1 and counts["removed"] >= 1 and counts["changed"] >= 1

    restored = restore_to_version(spark, full_dir, [delta_dir])
    assert sorted(map(tuple, restored.collect())) == sorted(
        map(tuple, v2.collect())
    )
    # delta is strictly smaller than the full tree (that's the point)
    assert read_delta(spark, delta_dir).count() < v1.count() + v2.count()


@pytest.mark.parametrize(
    "prev, cur",
    [(V1, V2), (V1, V1), (V1, {}), ({}, V2), ({}, {})],
    ids=["changed", "identical", "empty-current", "empty-previous", "both-empty"],
)
def test_observed_counts_equal_delta(spark, tmp_path, prev, cur):
    """The counts return (no hang, even when the delta or either side is
    empty) and equal a groupBy("status") over the written delta."""
    full_dir, delta_dir = str(tmp_path / "full"), str(tmp_path / "delta")
    write_snapshot(tree_from_dict(spark, prev).toArrow(), full_dir)
    current = tree_from_dict(spark, cur)
    result: dict = {}
    worker = threading.Thread(
        target=lambda: result.update(
            counts=incremental_backup(spark, current, full_dir, delta_dir)
        ),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "incremental_backup did not return"
    written = dict(read_delta(spark, delta_dir).groupBy("status").count().collect())
    assert result["counts"] == {
        s: written.get(s, 0) for s in ("added", "removed", "changed")
    }
    if prev == cur:
        assert result["counts"] == {"added": 0, "removed": 0, "changed": 0}


def _rows(df):
    return sorted(map(tuple, df.collect()))


#: Values holding lone UTF-16 surrogates, stored ASCII-escaped.
SURROGATES_OLD = {"notes": {"n1": "a\ud800b", "n2": "same\udfff"}}
SURROGATES_NEW = {"notes": {"n1": "a\udfffb", "n2": "same\udfff", "n3": "\ud800"}}


@pytest.mark.parametrize(
    "prev, cur",
    [
        (V1, V2),
        (V1, {**V1, **AWKWARD}),
        ({**V2, **AWKWARD}, V1),
        (SURROGATES_OLD, SURROGATES_NEW),
        ({}, V2),
        (V1, {}),
        (V2, V2),
    ],
    ids=["changed", "awkward-added", "awkward-removed", "lone-surrogate",
         "empty-old", "empty-new", "identical"],
)
def test_driver_diff_equals_tree_diff(spark, tmp_path, prev, cur):
    """The delta incremental_backup diffs and writes on the driver holds
    exactly tree_diff's rows, and its counts are that delta's."""
    full_dir, delta_dir = str(tmp_path / "full"), str(tmp_path / "delta")
    old, new = tree_from_dict(spark, prev), tree_from_dict(spark, cur)
    write_snapshot(old.toArrow(), full_dir)
    counts = incremental_backup(spark, new.toArrow(), full_dir, delta_dir)
    expected = _rows(tree_diff(old, new))
    assert _rows(read_delta(spark, delta_dir)) == expected
    assert counts == {
        s: sum(r[2] == s for r in expected) for s in ("added", "removed", "changed")
    }


def test_chain_mixing_spark_and_driver_deltas(spark, tmp_path):
    """A chain whose first delta Spark's writer wrote (as deltas were
    written before the diff ran on the driver) and whose second the
    driver wrote replays to the right tree at each step."""
    v3 = {**V2, "cfg": {"dark": False}, "new": {"n": 1}}
    full_dir, mid_dir = str(tmp_path / "full"), str(tmp_path / "mid")
    d_spark, d_driver = str(tmp_path / "d_spark"), str(tmp_path / "d_driver")
    v1, v2 = tree_from_dict(spark, V1), tree_from_dict(spark, V2)
    write_snapshot(v1.toArrow(), full_dir)
    tree_diff(read_snapshot(spark, full_dir), v2).write.parquet(
        os.path.join(d_spark, "delta")
    )
    write_snapshot(v2.toArrow(), mid_dir)
    incremental_backup(spark, tree_from_dict(spark, v3), mid_dir, d_driver)

    assert _rows(restore_to_version(spark, full_dir, [d_spark])) == _rows(v2)
    assert _rows(
        restore_to_version(spark, full_dir, [d_spark, d_driver])
    ) == _rows(tree_from_dict(spark, v3))


def test_failed_delta_write_leaves_no_delta_dir(spark, tmp_path, monkeypatch):
    """A delta write that raises removes what it wrote, and the old
    delta it was overwriting is gone too: no `delta/` is left behind."""
    full_dir, out = str(tmp_path / "full"), str(tmp_path / "out")
    write_snapshot(tree_from_dict(spark, V1).toArrow(), full_dir)
    current = tree_from_dict(spark, V2).toArrow()
    incremental_backup(spark, current, full_dir, out)
    assert os.listdir(os.path.join(out, "delta"))
    write_table = pq.write_table

    def write_then_fail(table, where, **kwargs):
        write_table(table, where, **kwargs)
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", write_then_fail)
    with pytest.raises(OSError, match="disk full"):
        incremental_backup(spark, current, full_dir, out)
    assert not os.path.exists(os.path.join(out, "delta"))


def test_apply_delta_is_identity_on_empty_diff(spark):
    v1 = tree_from_dict(spark, V1)
    empty = tree_diff(v1, v1)
    assert empty.isEmpty()
    out = apply_delta(v1, empty)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, v1.collect()))


def test_expire_chain_after_checkpoint(spark, tmp_path):
    """write -> delta -> checkpoint -> expire: the old full snapshot and
    compacted delta are deleted ONLY after the checkpoint validates,
    and the checkpoint alone still reconstructs the current tree."""
    import pytest

    from firebase_realtime_database_backup_spark.sinks.incremental import (
        checkpoint_chain,
        expire_chain,
    )
    from firebase_realtime_database_backup_spark.sinks.snapshot import (
        read_snapshot,
    )

    full_dir = str(tmp_path / "full")
    delta_dir = str(tmp_path / "delta1")
    ckpt_dir = str(tmp_path / "ckpt")
    v1, v2 = tree_from_dict(spark, V1), tree_from_dict(spark, V2)
    write_snapshot(v1.toArrow(), full_dir)
    incremental_backup(spark, v2, full_dir, delta_dir)
    checkpoint_chain(spark, full_dir, [delta_dir], ckpt_dir)

    removed = expire_chain(spark, ckpt_dir, full_dir, [delta_dir])
    assert sorted(removed) == sorted([full_dir, delta_dir])
    import os

    assert not os.path.isdir(full_dir) and not os.path.isdir(delta_dir)
    # the checkpoint alone IS the current state
    assert sorted(map(tuple, read_snapshot(spark, ckpt_dir).collect())) == sorted(
        map(tuple, v2.collect())
    )

    # safety latch: a missing/invalid checkpoint refuses to delete
    with pytest.raises(Exception):
        expire_chain(spark, str(tmp_path / "nope"), ckpt_dir, [])
    assert os.path.isdir(ckpt_dir)


def test_expire_chain_refuses_wrong_chain(spark, tmp_path):
    """Provenance latch: a valid checkpoint must not authorize deleting
    a chain it never compacted (the unrelated-chain footgun), and a
    pre-provenance checkpoint falls back to the content cross-check."""
    import os

    import pytest

    from firebase_realtime_database_backup_spark.sinks.incremental import (
        PROVENANCE_FILE,
        checkpoint_chain,
        expire_chain,
    )

    full_a = str(tmp_path / "full_a")
    delta_a = str(tmp_path / "delta_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    full_b = str(tmp_path / "full_b")  # unrelated, still-needed chain
    v1, v2 = tree_from_dict(spark, V1), tree_from_dict(spark, V2)
    write_snapshot(v1.toArrow(), full_a)
    write_snapshot(v1.toArrow(), full_b)  # content differs from the checkpoint (v2)
    incremental_backup(spark, v2, full_a, delta_a)
    checkpoint_chain(spark, full_a, [delta_a], ckpt_a)

    # wrong full snapshot: refused, nothing deleted
    with pytest.raises(ValueError, match="does not supersede"):
        expire_chain(spark, ckpt_a, full_b, [delta_a])
    assert os.path.isdir(full_b) and os.path.isdir(full_a)

    # wrong delta list: refused
    with pytest.raises(ValueError, match="never compacted"):
        expire_chain(spark, ckpt_a, full_a, [delta_a, full_b])
    assert os.path.isdir(full_b)

    # pre-provenance checkpoint (sidecar removed): the content
    # cross-check replays the chain — wrong chain still refused...
    os.remove(os.path.join(ckpt_a, PROVENANCE_FILE))
    with pytest.raises(ValueError, match="differs from checkpoint"):
        expire_chain(spark, ckpt_a, full_b, [])
    assert os.path.isdir(full_b)
    # ...and the true chain passes
    removed = expire_chain(spark, ckpt_a, full_a, [delta_a])
    assert sorted(removed) == sorted([full_a, delta_a])
