"""Incremental snapshots: tree diff + delta export.

The reference can only export the ENTIRE database every time
(src/BackupProcessor.php:39-53 — no state carried between runs).  At
100 TB that's the difference between an hourly job and an impossible
one, so the engine adds the incremental layer the reference lacks:

- `tree_diff(old, new)`  — row-level diff of two tree relations:
  added / removed / changed(with before+after), one full-outer join on
  (path, key).
- `incremental_backup(...)` — diff the current tree against the
  previous snapshot and write ONLY the delta; `apply_delta` folds a
  delta onto a base tree to reconstruct the current state (base ∖
  removed ∖ changed ∪ added ∪ changed-after) — so full_snapshot +
  deltas* is a complete, verifiable backup chain.

Scale shape: `incremental_backup` diffs on the driver, with no Spark
job for a tree given as a `pyarrow.Table`.  Both of its inputs are
driver-side Arrow already — the extract ends with the current tree on
the driver, and a snapshot opens as a `pyarrow.dataset` — so it does
the same full-outer join as `tree_diff`, on (path, key) with a string
equality on the canonical JSON, as one `pyarrow` hash join, and writes
the delta with `pyarrow.parquet`.  Shipping both sides to the JVM for a
shuffle join cost three jobs and moved the whole tree twice.  The
driver holds the previous snapshot's table and the join output (both
sides' values for every row, until the unchanged rows are filtered
out) next to the current tree it already holds: a few times the tree.

`tree_diff` is the same diff as a DataFrame join; `expire_chain`'s
content check uses it.  Delta application (`apply_delta`,
`restore_to_version`) is that join shape too and stays in Spark.
Deltas written by Spark's writer and by the driver read alike: both are
parquet files in DELTA_SCHEMA under `<out_dir>/delta/`.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from firebase_realtime_database_backup_spark.catalog import read_parquet
from firebase_realtime_database_backup_spark.sinks.snapshot import (
    _PART_FILE,
    _remove,
    _resolve,
    read_snapshot,
    snapshot_dataset,
    write_snapshot,
)
from firebase_realtime_database_backup_spark.sources.tree import TREE_SCHEMA

#: diff row status values
ADDED, REMOVED, CHANGED = "added", "removed", "changed"

#: tree_diff's output columns: the schema of every delta written, so a
#: delta read never pays Spark's schema-inference job.
DELTA_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("key", StringType()),
        StructField("status", StringType()),
        StructField("old_value_json", StringType()),
        StructField("new_value_json", StringType()),
        StructField("depth", IntegerType()),
    ]
)


def tree_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(path, key, status, old_value_json, new_value_json, depth):
    row-level difference new vs old — one full-outer join, no driver
    state.  `table_diff` is the same diff on the driver."""
    o = old.select(
        "path", "key",
        F.col("value_json").alias("old_value_json"),
        F.col("depth").alias("old_depth"),
    )
    n = new.select(
        "path", "key",
        F.col("value_json").alias("new_value_json"),
        F.col("depth").alias("new_depth"),
    )
    j = o.join(n, ["path", "key"], "full_outer")
    status = (
        F.when(F.col("old_value_json").isNull(), ADDED)
        .when(F.col("new_value_json").isNull(), REMOVED)
        .when(F.col("old_value_json") != F.col("new_value_json"), CHANGED)
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            "path",
            "key",
            "status",
            "old_value_json",
            "new_value_json",
            F.coalesce("new_depth", "old_depth").alias("depth"),
        )
    )


def table_diff(old: pa.Table, new: pa.Table) -> pa.Table:
    """`tree_diff` of two tree tables, as a table in DELTA_SCHEMA: one
    `pyarrow` full-outer hash join on (path, key), the same status
    rules, and `coalesce(new_depth, old_depth)`.  Runs on the driver."""
    tree = to_arrow_schema(TREE_SCHEMA)
    o, n = (
        t.select(tree.names).cast(tree).rename_columns(
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
        schema=to_arrow_schema(DELTA_SCHEMA),
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


def read_delta(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_parquet(spark, os.path.join(out_dir, "delta"), DELTA_SCHEMA)


def apply_delta(base: DataFrame, delta: DataFrame) -> DataFrame:
    """base (tree) + delta -> new tree.  Removed/changed rows leave the
    base via an anti join; added/changed rows enter with their new
    values."""
    touched = delta.select("path", "key")
    keep = base.join(touched, ["path", "key"], "left_anti")
    incoming = (
        delta.filter(F.col("status").isin(ADDED, CHANGED))
        .select(
            "path", "key", F.col("new_value_json").alias("value_json"), "depth"
        )
    )
    return keep.unionByName(incoming)


def incremental_backup(
    spark: SparkSession | None,
    current_tree: pa.Table | DataFrame,
    prev_snapshot_dir: str,
    out_dir: str,
) -> dict:
    """Diff the current tree against the previous snapshot on the driver
    (`table_diff`) and persist only the delta (`write_delta`).  Returns
    the delta's row count per status.

    `current_tree` is a tree table (`sources.firebase.extract_table`),
    which runs no Spark job, or a tree DataFrame, collected once with
    `toArrow()` (one job).  `spark` is unused; the benchmark's ETL
    workload (`perfbench/workloads.py`) passes it.

    Driver memory: the current tree, the previous snapshot's table and
    the join output (module docstring).  The previous snapshot is opened
    and `out_dir` resolved before the frame is collected, so a missing
    snapshot or a URI pyarrow has no filesystem for (such as Hadoop's
    `s3a://`, a ValueError naming it) fails first."""
    _resolve(out_dir)
    old = snapshot_dataset(prev_snapshot_dir).to_table()
    if isinstance(current_tree, DataFrame):
        current_tree = current_tree.toArrow()
    delta = table_diff(old, current_tree)
    write_delta(delta, out_dir)
    counts = dict.fromkeys((ADDED, REMOVED, CHANGED), 0)
    for vc in pc.value_counts(delta["status"]).to_pylist():
        counts[vc["values"]] = vc["counts"]
    return counts


def restore_to_version(
    spark: SparkSession, full_snapshot_dir: str, delta_dirs: list[str]
) -> DataFrame:
    """Replay a backup chain: full snapshot + ordered deltas -> tree."""
    tree = read_snapshot(spark, full_snapshot_dir)
    for d in delta_dirs:
        tree = apply_delta(tree, read_delta(spark, d))
    return tree


#: Sidecar file a checkpoint writes to record WHICH chain it compacted
#: (consumed by expire_chain's provenance latch).
PROVENANCE_FILE = "chain_provenance.json"


def checkpoint_chain(
    spark: SparkSession,
    full_snapshot_dir: str,
    delta_dirs: list[str],
    out_dir: str,
) -> None:
    """Compact a chain back into a new full snapshot (bounded restore
    cost — the chain never grows past the compaction interval).  The
    replayed tree is collected to the driver once (`toArrow`, one Spark
    job) and written by the driver-side snapshot writer, so the driver
    holds the whole compacted tree.

    Also records the compacted chain's directories in a provenance
    sidecar so retention (expire_chain) can verify it is deleting the
    chain THIS checkpoint supersedes, not an unrelated one."""
    import json

    tree = restore_to_version(spark, full_snapshot_dir, delta_dirs)
    write_snapshot(tree.toArrow(), out_dir)
    with open(os.path.join(out_dir, PROVENANCE_FILE), "w") as fh:
        json.dump(
            {
                "full_snapshot_dir": os.path.abspath(full_snapshot_dir),
                "delta_dirs": [os.path.abspath(d) for d in delta_dirs],
            },
            fh,
        )


def expire_chain(
    spark: SparkSession,
    checkpoint_dir: str,
    full_snapshot_dir: str,
    delta_dirs: list[str],
) -> list[str]:
    """Retention: delete a chain's old full snapshot and the deltas a
    checkpoint has already compacted — the step that keeps N daily
    incrementals from accumulating forever (write → diff → checkpoint
    → EXPIRE is the full lifecycle).

    Safety latches (ALL must pass before anything is deleted):

    1. Integrity: the checkpoint is readable and its manifest row count
       is positive and equals the checkpoint's actual row count — a
       truncated or half-written checkpoint must never authorize
       destroying the only chain that can reconstruct it.
    2. Provenance: the checkpoint's `chain_provenance.json` (written by
       checkpoint_chain) must name the directories being expired — a
       caller passing the WRONG chain (one this checkpoint never
       compacted, still needed by some other checkpoint) is refused.
       For checkpoints predating the sidecar, fall back to a content
       cross-check: replay the chain and require its diff against the
       checkpoint to be empty (one full-outer join).

    Returns the directories removed.

    Scale note: with provenance present the validation reads one
    manifest JSON, one sidecar JSON, and one count() over the
    checkpoint — O(checkpoint), no chain replay; the deletions are
    filesystem metadata ops.  The no-sidecar fallback replays the
    chain once (retention is rare; correctness beats speed here)."""
    import json
    import shutil

    from firebase_realtime_database_backup_spark.sinks.snapshot import (
        read_manifest,
        read_snapshot,
    )

    manifest_rows = read_manifest(spark, checkpoint_dir).agg(
        F.sum("n_rows")
    ).collect()[0][0]
    if not manifest_rows or manifest_rows <= 0:
        raise ValueError(
            f"checkpoint {checkpoint_dir!r} has an empty/unreadable "
            "manifest; refusing to expire the chain it depends on"
        )
    actual = read_snapshot(spark, checkpoint_dir).count()
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
        replayed = restore_to_version(spark, full_snapshot_dir, delta_dirs)
        n_diff = tree_diff(replayed, read_snapshot(spark, checkpoint_dir)).count()
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
