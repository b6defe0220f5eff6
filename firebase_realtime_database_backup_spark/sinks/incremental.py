"""Incremental snapshots: tree diff + delta export + chain replay.

The reference can only export the ENTIRE database every time
(src/BackupProcessor.php:39-53 — no state carried between runs).  At
100 TB that's the difference between an hourly job and an impossible
one, so the engine adds the incremental layer the reference lacks:

- `table_diff(old, new)` — row-level diff of two tree tables:
  added / removed / changed (with before+after), one full-outer join on
  (path, key).
- `incremental_backup(...)` — diff the current tree against the
  previous snapshot and write ONLY the delta; `apply_delta` folds a
  delta onto a base tree to reconstruct the current state (base ∖
  removed ∖ changed ∪ added ∪ changed-after) — so full_snapshot +
  deltas* is a complete, verifiable backup chain, which
  `checkpoint_chain` compacts and `expire_chain` retires.

Everything here runs on the driver over Arrow, with no Spark job and no
pyspark import.  Both diff inputs are driver-side Arrow already — the
extract ends with the current tree on the driver, and a snapshot opens
as a `pyarrow.dataset` — so the diff is one `pyarrow` hash join, on
(path, key) with a string equality on the canonical JSON, and the delta
is written with `pyarrow.parquet`.  Shipping both sides to the JVM for
a shuffle join cost three jobs and moved the whole tree twice.  The
driver holds the previous snapshot's table and the join output (both
sides' values for every row, until the unchanged rows are filtered
out) next to the current tree it already holds: a few times the tree.
Replay (`apply_delta`, `restore_to_version`) is one anti join and one
concat per delta, and holds the replayed tree on the driver.

Deltas written by Spark's writer (as they were before the diff ran on
the driver) and by the driver read alike: both are parquet files in
DELTA_SCHEMA under `<out_dir>/delta/`, and the dataset reader skips
Spark's `_SUCCESS` and `.crc` files.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from typing import TYPE_CHECKING
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from firebase_realtime_database_backup_spark.sinks.snapshot import (
    _PART_FILE,
    MANIFEST_DIR,
    _remove,
    _resolve,
    snapshot_dataset,
    write_snapshot,
)
from firebase_realtime_database_backup_spark.sources.tree import (
    TREE_SCHEMA,
    frame_table,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

#: diff row status values
ADDED, REMOVED, CHANGED = "added", "removed", "changed"

#: table_diff's output columns: the schema of every delta written, and
#: the known schema every delta is read with.
DELTA_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string()),
        pa.field("key", pa.string()),
        pa.field("status", pa.string()),
        pa.field("old_value_json", pa.string()),
        pa.field("new_value_json", pa.string()),
        pa.field("depth", pa.int32()),
    ]
)


def table_diff(old: pa.Table, new: pa.Table) -> pa.Table:
    """(path, key, status, old_value_json, new_value_json, depth):
    row-level difference of two tree tables, new vs old, as a table in
    DELTA_SCHEMA — one `pyarrow` full-outer hash join on (path, key);
    unchanged rows are dropped and depth is `coalesce(new, old)`."""
    o, n = (
        t.select(TREE_SCHEMA.names).cast(TREE_SCHEMA).rename_columns(
            ["path", "key", f"{side}_value_json", f"{side}_depth"]
        )
        for t, side in ((old, "old"), (new, "new"))
    )
    j = o.join(n, ["path", "key"], join_type="full outer")
    same = pc.fill_null(pc.equal(j["old_value_json"], j["new_value_json"]), False)
    j = j.filter(pc.invert(same))
    status = pc.if_else(
        pc.is_null(j["old_value_json"]),
        ADDED,
        pc.if_else(pc.is_null(j["new_value_json"]), REMOVED, CHANGED),
    )
    return pa.Table.from_arrays(
        [
            j["path"],
            j["key"],
            status,
            j["old_value_json"],
            j["new_value_json"],
            pc.coalesce(j["new_depth"], j["old_depth"]),
        ],
        schema=DELTA_SCHEMA,
    )


def write_delta(delta: pa.Table, out_dir: str) -> None:
    """Write a delta table (DELTA_SCHEMA's columns) as one zstd parquet
    file under `<out_dir>/delta/`, from the driver: no Spark job.  Like
    `write_snapshot`, it always overwrites (the old `delta/` goes first),
    a write that raises removes what it wrote, and `out_dir` is a local
    path or a URI pyarrow has a filesystem for."""
    fs, root, _ = _resolve(out_dir)
    delta_dir = f"{root}/delta"
    _remove(fs, delta_dir)
    try:
        fs.create_dir(delta_dir)
        pq.write_table(
            delta,
            f"{delta_dir}/{_PART_FILE}",
            filesystem=fs,
            compression="zstd",
            # the values are mostly distinct: a dictionary only grows them
            use_dictionary=["path", "key", "status", "depth"],
        )
    except BaseException:
        _remove(fs, delta_dir)
        raise


def read_delta(out_dir: str) -> pa.Table:
    """The delta under `<out_dir>/delta/` as a table in DELTA_SCHEMA,
    read on the driver with that known schema."""
    fs, root, _ = _resolve(out_dir)
    return ds.dataset(
        f"{root}/delta", schema=DELTA_SCHEMA, format="parquet", filesystem=fs
    ).to_table()


def apply_delta(base: pa.Table, delta: pa.Table) -> pa.Table:
    """base (tree table) + delta -> new tree table.  Removed and changed
    rows leave the base through a left anti join on (path, key); added
    and changed rows enter with their new values."""
    keep = base.select(TREE_SCHEMA.names).join(
        delta.select(["path", "key"]), ["path", "key"], join_type="left anti"
    )
    incoming = delta.filter(pc.is_in(delta["status"], pa.array([ADDED, CHANGED])))
    incoming = incoming.select(["path", "key", "new_value_json", "depth"])
    incoming = incoming.rename_columns(TREE_SCHEMA.names)
    return pa.concat_tables([keep.cast(TREE_SCHEMA), incoming.cast(TREE_SCHEMA)])


def incremental_backup(
    spark: SparkSession | None,
    current_tree: pa.Table | DataFrame,
    prev_snapshot_dir: str,
    out_dir: str,
) -> dict:
    """Diff the current tree against the previous snapshot on the driver
    (`table_diff`) and persist only the delta (`write_delta`).  Returns
    the delta's row count per status.

    `current_tree` is a tree table (`sources.firebase.extract_table`)
    or a tree DataFrame.  A frame that `tree_frame` built (such as
    `sources.firebase.extract`'s) is diffed through the table it keeps,
    so neither runs a Spark job; any other frame (read from a snapshot,
    or derived by a transformation) is collected once with `toArrow()`
    (one job; `sources.tree.frame_table`).  `spark` is unused; the
    benchmark's ETL workload (`perfbench/workloads.py`) passes it.

    Driver memory: the current tree, the previous snapshot's table and
    the join output (module docstring).  The previous snapshot is opened
    and `out_dir` resolved before a frame is collected, so a missing
    snapshot or a URI pyarrow has no filesystem for (such as Hadoop's
    `s3a://`, a ValueError naming it) fails first."""
    _resolve(out_dir)
    old = snapshot_dataset(prev_snapshot_dir).to_table()
    if not isinstance(current_tree, pa.Table):
        current_tree = frame_table(current_tree)
    delta = table_diff(old, current_tree)
    write_delta(delta, out_dir)
    counts = dict.fromkeys((ADDED, REMOVED, CHANGED), 0)
    for vc in pc.value_counts(delta["status"]).to_pylist():
        counts[vc["values"]] = vc["counts"]
    return counts


def restore_to_version(full_snapshot_dir: str, delta_dirs: list[str]) -> pa.Table:
    """Replay a backup chain on the driver: full snapshot + ordered
    deltas -> tree table."""
    tree = snapshot_dataset(full_snapshot_dir).to_table()
    for d in delta_dirs:
        tree = apply_delta(tree, read_delta(d))
    return tree


#: Sidecar file a checkpoint writes to record WHICH chain it compacted
#: (consumed by expire_chain's provenance latch).
PROVENANCE_FILE = "chain_provenance.json"


def checkpoint_chain(
    full_snapshot_dir: str, delta_dirs: list[str], out_dir: str
) -> None:
    """Compact a chain back into a new full snapshot (bounded restore
    cost — the chain never grows past the compaction interval).  The
    chain is replayed on the driver (`restore_to_version`) and written
    by the driver-side snapshot writer, so the driver holds the whole
    compacted tree; no Spark job runs.

    Also records the compacted chain's directories in a provenance
    sidecar so retention (expire_chain) can verify it is deleting the
    chain THIS checkpoint supersedes, not an unrelated one.  Like the
    snapshot, the sidecar is written through `out_dir`'s filesystem, so
    `out_dir` may be a URI; a local chain directory is recorded as an
    absolute path, a URI as given."""
    write_snapshot(restore_to_version(full_snapshot_dir, delta_dirs), out_dir)
    fs, root, _ = _resolve(out_dir)
    provenance = {
        "full_snapshot_dir": _chain_dir(full_snapshot_dir),
        "delta_dirs": [_chain_dir(d) for d in delta_dirs],
    }
    with fs.open_output_stream(f"{root}/{PROVENANCE_FILE}") as fh:
        fh.write(json.dumps(provenance).encode())


def _chain_dir(d: str) -> str:
    return d if urlparse(d).scheme else os.path.abspath(d)


def expire_chain(
    checkpoint_dir: str, full_snapshot_dir: str, delta_dirs: list[str]
) -> list[str]:
    """Retention: delete a chain's old full snapshot and the deltas a
    checkpoint has already compacted — the step that keeps N daily
    incrementals from accumulating forever (write → diff → checkpoint
    → EXPIRE is the full lifecycle).

    Safety latches (ALL must pass before anything is deleted):

    1. Integrity: the checkpoint is readable and its manifest row count
       (the `n_rows` of every line of every `_manifest/*.json` part
       file, one file from the driver's writer, several from Spark's)
       is positive and equals the checkpoint's actual row count — a
       truncated or half-written checkpoint must never authorize
       destroying the only chain that can reconstruct it.
    2. Provenance: the checkpoint's `chain_provenance.json` (written by
       checkpoint_chain) must name the directories being expired — a
       caller passing the WRONG chain (one this checkpoint never
       compacted, still needed by some other checkpoint) is refused.
       For checkpoints predating the sidecar, fall back to a content
       cross-check: replay the chain and require its `table_diff`
       against the checkpoint to be empty.

    Returns the directories removed.

    Scale note: with provenance present the validation reads the
    manifest's JSON lines, one sidecar JSON and the checkpoint's parquet
    footers (`count_rows`) on the driver — no Spark job, no chain
    replay; the deletions are filesystem metadata ops.  The no-sidecar
    fallback replays the chain once on the driver (retention is rare;
    correctness beats speed here).

    Every directory must be a local path: a URI raises a ValueError
    naming it before any latch runs or anything is deleted."""
    for d in (checkpoint_dir, full_snapshot_dir, *delta_dirs):
        if urlparse(d).scheme:
            raise ValueError(f"expire_chain works on local paths only, not {d!r}")
    manifest_rows = 0
    for part in glob.glob(os.path.join(checkpoint_dir, MANIFEST_DIR, "*.json")):
        with open(part, encoding="utf-8") as fh:
            manifest_rows += sum(json.loads(ln)["n_rows"] for ln in fh if ln.strip())
    if manifest_rows <= 0:
        raise ValueError(
            f"checkpoint {checkpoint_dir!r} has an empty/unreadable "
            "manifest; refusing to expire the chain it depends on"
        )
    actual = snapshot_dataset(checkpoint_dir).count_rows()
    if actual != manifest_rows:
        raise ValueError(
            f"checkpoint {checkpoint_dir!r} row count {actual} != "
            f"manifest {manifest_rows}; refusing to expire the chain"
        )
    prov_path = os.path.join(checkpoint_dir, PROVENANCE_FILE)
    if os.path.isfile(prov_path):
        with open(prov_path) as fh:
            prov = json.load(fh)
        recorded_full = prov.get("full_snapshot_dir")
        recorded_deltas = set(prov.get("delta_dirs", []))
        if os.path.abspath(full_snapshot_dir) != recorded_full:
            raise ValueError(
                f"checkpoint {checkpoint_dir!r} compacted full snapshot "
                f"{recorded_full!r}, not {full_snapshot_dir!r}; refusing "
                "to expire a chain it does not supersede"
            )
        strays = [
            d for d in delta_dirs if os.path.abspath(d) not in recorded_deltas
        ]
        if strays:
            raise ValueError(
                f"checkpoint {checkpoint_dir!r} never compacted delta "
                f"dirs {strays!r}; refusing to expire them"
            )
    else:
        # Pre-provenance checkpoint: prove BY CONTENT that the passed
        # chain reconstructs exactly this checkpoint before deleting it.
        replayed = restore_to_version(full_snapshot_dir, delta_dirs)
        checkpoint = snapshot_dataset(checkpoint_dir).to_table()
        n_diff = table_diff(replayed, checkpoint).num_rows
        if n_diff:
            raise ValueError(
                f"chain replay differs from checkpoint {checkpoint_dir!r} "
                f"on {n_diff} rows; refusing to expire a chain the "
                "checkpoint does not supersede"
            )
    removed = []
    for d in [full_snapshot_dir, *delta_dirs]:
        if os.path.isdir(d):
            shutil.rmtree(d)
            removed.append(d)
    return removed
