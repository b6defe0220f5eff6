"""Incremental snapshot chain: full + deltas must reconstruct the
current tree exactly, and deltas must contain ONLY what changed.  The
chain runs on the driver over Arrow; Spark appears only where a test
feeds it a frame or a delta written by Spark's own writer."""

import json
import os
import re
import threading
from collections import Counter

import pyarrow.parquet as pq
import pytest
from test_sinks import AWKWARD

from firebase_realtime_database_backup_spark.sinks.incremental import (
    PROVENANCE_FILE,
    apply_delta,
    checkpoint_chain,
    expire_chain,
    incremental_backup,
    read_delta,
    restore_to_version,
    table_diff,
)
from firebase_realtime_database_backup_spark.sinks.snapshot import (
    snapshot_dataset,
    write_snapshot,
)
from firebase_realtime_database_backup_spark.sources.tree import (
    rows_from_dict,
    tree_frame,
    tree_table,
)

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


def _table(d):
    return tree_table(rows_from_dict(d))


def _rows(table):
    return sorted(zip(*table.to_pydict().values()))


def test_tree_diff_statuses():
    diff = table_diff(_table(V1), _table(V2))
    d = dict(zip(zip(diff["path"].to_pylist(), diff["key"].to_pylist()),
                 diff["status"].to_pylist()))
    assert d[("/users", "u1")] == "changed"
    assert d[("/users", "u2")] == "removed"
    assert d[("/users", "u3")] == "added"
    assert d[("/", "motd")] == "changed"
    # unchanged rows never appear
    assert ("/cfg", "dark") not in d and ("/", "cfg") not in d
    assert ("/users/u1", "name") not in d
    assert len(d) == diff.num_rows == 8


def test_incremental_chain_roundtrip(tmp_path):
    full_dir = str(tmp_path / "full")
    delta_dir = str(tmp_path / "delta1")
    v1, v2 = _table(V1), _table(V2)

    write_snapshot(v1, full_dir)
    counts = incremental_backup(None, v2, full_dir, delta_dir)
    assert counts["added"] >= 1 and counts["removed"] >= 1 and counts["changed"] >= 1

    restored = restore_to_version(full_dir, [delta_dir])
    assert _rows(restored) == _rows(v2)
    # delta is strictly smaller than the full tree (that's the point)
    assert read_delta(delta_dir).num_rows < v1.num_rows + v2.num_rows


@pytest.mark.parametrize(
    "prev, cur",
    [(V1, V2), (V1, V1), (V1, {}), ({}, V2), ({}, {})],
    ids=["changed", "identical", "empty-current", "empty-previous", "both-empty"],
)
def test_observed_counts_equal_delta(tmp_path, prev, cur):
    """The counts return (no hang, even when the delta or either side is
    empty) and equal a count per status over the written delta."""
    full_dir, delta_dir = str(tmp_path / "full"), str(tmp_path / "delta")
    write_snapshot(_table(prev), full_dir)
    current = _table(cur)
    result: dict = {}
    worker = threading.Thread(
        target=lambda: result.update(
            counts=incremental_backup(None, current, full_dir, delta_dir)
        ),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "incremental_backup did not return"
    written = Counter(read_delta(delta_dir)["status"].to_pylist())
    assert result["counts"] == {
        s: written.get(s, 0) for s in ("added", "removed", "changed")
    }
    if prev == cur:
        assert result["counts"] == {"added": 0, "removed": 0, "changed": 0}


def _expected_delta(prev: dict, cur: dict) -> list[tuple]:
    """The delta rows of prev -> cur, from the two trees' row sets."""
    old = {(p, k): (v, d) for p, k, v, d in rows_from_dict(prev)}
    new = {(p, k): (v, d) for p, k, v, d in rows_from_dict(cur)}
    rows = []
    for path, key in old.keys() | new.keys():
        (ov, od), (nv, nd) = old.get((path, key), (None, None)), new.get(
            (path, key), (None, None)
        )
        if ov == nv:
            continue
        status = "added" if ov is None else "removed" if nv is None else "changed"
        rows.append((path, key, status, ov, nv, od if nd is None else nd))
    return sorted(rows)


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
def test_driver_diff_equals_tree_diff(tmp_path, prev, cur):
    """The delta incremental_backup diffs and writes on the driver holds
    exactly the rows that differ between the two trees' row sets, and
    its counts are that delta's."""
    full_dir, delta_dir = str(tmp_path / "full"), str(tmp_path / "delta")
    write_snapshot(_table(prev), full_dir)
    counts = incremental_backup(None, _table(cur), full_dir, delta_dir)
    expected = _expected_delta(prev, cur)
    assert _rows(read_delta(delta_dir)) == expected
    assert counts == {
        s: sum(r[2] == s for r in expected) for s in ("added", "removed", "changed")
    }


def test_chain_mixing_spark_and_driver_deltas(spark, tmp_path):
    """A chain whose first delta Spark's parquet writer wrote (as deltas
    were written before the diff ran on the driver, `_SUCCESS` and
    `.crc` files included) and whose second the driver wrote replays on
    the driver to the right tree at each step."""
    v3 = {**V2, "cfg": {"dark": False}, "new": {"n": 1}}
    full_dir, mid_dir = str(tmp_path / "full"), str(tmp_path / "mid")
    d_spark, d_driver = str(tmp_path / "d_spark"), str(tmp_path / "d_driver")
    write_snapshot(_table(V1), full_dir)
    spark.createDataFrame(table_diff(_table(V1), _table(V2))).write.parquet(
        os.path.join(d_spark, "delta")
    )
    written = os.listdir(os.path.join(d_spark, "delta"))
    assert "_SUCCESS" in written and any(f.endswith(".crc") for f in written)
    write_snapshot(_table(V2), mid_dir)
    incremental_backup(spark, tree_frame(spark, _table(v3)), mid_dir, d_driver)

    assert _rows(restore_to_version(full_dir, [d_spark])) == _rows(_table(V2))
    assert _rows(restore_to_version(full_dir, [d_spark, d_driver])) == _rows(
        _table(v3)
    )


def test_failed_delta_write_leaves_no_delta_dir(tmp_path, monkeypatch):
    """A delta write that raises removes what it wrote, and the old
    delta it was overwriting is gone too: no `delta/` is left behind."""
    full_dir, out = str(tmp_path / "full"), str(tmp_path / "out")
    write_snapshot(_table(V1), full_dir)
    current = _table(V2)
    incremental_backup(None, current, full_dir, out)
    assert os.listdir(os.path.join(out, "delta"))
    write_table = pq.write_table

    def write_then_fail(table, where, **kwargs):
        write_table(table, where, **kwargs)
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", write_then_fail)
    with pytest.raises(OSError, match="disk full"):
        incremental_backup(None, current, full_dir, out)
    assert not os.path.exists(os.path.join(out, "delta"))


def test_apply_delta_is_identity_on_empty_diff():
    v1 = _table(V1)
    empty = table_diff(v1, v1)
    assert empty.num_rows == 0
    assert _rows(apply_delta(v1, empty)) == _rows(v1)


def test_expire_chain_after_checkpoint(tmp_path):
    """write -> delta -> checkpoint -> expire: the old full snapshot and
    compacted delta are deleted ONLY after the checkpoint validates,
    and the checkpoint alone still reconstructs the current tree."""
    full_dir = str(tmp_path / "full")
    delta_dir = str(tmp_path / "delta1")
    ckpt_dir = str(tmp_path / "ckpt")
    v1, v2 = _table(V1), _table(V2)
    write_snapshot(v1, full_dir)
    incremental_backup(None, v2, full_dir, delta_dir)
    checkpoint_chain(full_dir, [delta_dir], ckpt_dir)

    removed = expire_chain(ckpt_dir, full_dir, [delta_dir])
    assert sorted(removed) == sorted([full_dir, delta_dir])
    assert not os.path.isdir(full_dir) and not os.path.isdir(delta_dir)
    # the checkpoint alone IS the current state
    assert _rows(snapshot_dataset(ckpt_dir).to_table()) == _rows(v2)

    # safety latch: a missing/invalid checkpoint refuses to delete
    with pytest.raises(Exception):
        expire_chain(str(tmp_path / "nope"), ckpt_dir, [])
    assert os.path.isdir(ckpt_dir)


def test_chain_lifecycle_with_uris(tmp_path):
    """A `file://` checkpoint gets its provenance sidecar next to the
    snapshot; `expire_chain` works on local paths only and refuses any
    URI up front, before it validates or deletes anything."""
    full_dir = str(tmp_path / "full")
    delta_dir = str(tmp_path / "delta1")
    ckpt_dir = str(tmp_path / "ckpt")
    write_snapshot(_table(V1), full_dir)
    incremental_backup(None, _table(V2), full_dir, delta_dir)
    checkpoint_chain(full_dir, [delta_dir], "file://" + ckpt_dir)
    with open(os.path.join(ckpt_dir, PROVENANCE_FILE)) as fh:
        assert json.load(fh) == {"full_snapshot_dir": full_dir,
                                 "delta_dirs": [delta_dir]}
    assert _rows(snapshot_dataset(ckpt_dir).to_table()) == _rows(_table(V2))

    ckpt_uri, full_uri, delta_uri = ("file://" + d for d in (ckpt_dir, full_dir, delta_dir))
    for uri, args in ((ckpt_uri, (ckpt_uri, full_dir, [delta_dir])),
                      (full_uri, (ckpt_dir, full_uri, [delta_dir])),
                      (delta_uri, (ckpt_dir, full_dir, [delta_uri]))):
        # the later latches name the directory too: match the refusal
        with pytest.raises(ValueError, match="local paths only, not " + re.escape(repr(uri))):
            expire_chain(*args)
        assert all(map(os.path.isdir, (full_dir, delta_dir, ckpt_dir)))


def test_expire_chain_refuses_wrong_chain(tmp_path):
    """Provenance latch: a valid checkpoint must not authorize deleting
    a chain it never compacted (the unrelated-chain footgun), and a
    pre-provenance checkpoint falls back to the content cross-check."""
    full_a = str(tmp_path / "full_a")
    delta_a = str(tmp_path / "delta_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    full_b = str(tmp_path / "full_b")  # unrelated, still-needed chain
    v1, v2 = _table(V1), _table(V2)
    write_snapshot(v1, full_a)
    write_snapshot(v1, full_b)  # content differs from the checkpoint (v2)
    incremental_backup(None, v2, full_a, delta_a)
    checkpoint_chain(full_a, [delta_a], ckpt_a)

    # wrong full snapshot: refused, nothing deleted
    with pytest.raises(ValueError, match="does not supersede"):
        expire_chain(ckpt_a, full_b, [delta_a])
    assert os.path.isdir(full_b) and os.path.isdir(full_a)

    # wrong delta list: refused
    with pytest.raises(ValueError, match="never compacted"):
        expire_chain(ckpt_a, full_a, [delta_a, full_b])
    assert os.path.isdir(full_b)

    # pre-provenance checkpoint (sidecar removed): the content
    # cross-check replays the chain — wrong chain still refused...
    os.remove(os.path.join(ckpt_a, PROVENANCE_FILE))
    with pytest.raises(ValueError, match="differs from checkpoint"):
        expire_chain(ckpt_a, full_b, [])
    assert os.path.isdir(full_b)
    # ...and the true chain passes
    removed = expire_chain(ckpt_a, full_a, [delta_a])
    assert sorted(removed) == sorted([full_a, delta_a])
