"""Schema-carrying parquet reads (catalog.read_parquet): a repeat read
runs no Spark job, a rewritten file is re-inferred, the cached and the
sinks' known schemas equal Spark's own inference, and concurrent
readers are safe.  A backup writes and a restore reads its snapshot
with no Spark job, and an incremental backup of a tree table runs
none either."""

from __future__ import annotations

import inspect
import os
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.pandas.types import from_arrow_schema
from test_sinks import tree_df

import __spark_entry__ as entry
from firebase_realtime_database_backup_spark import api, catalog
from firebase_realtime_database_backup_spark.sinks.incremental import (
    DELTA_SCHEMA,
    incremental_backup,
    read_delta,
)
from firebase_realtime_database_backup_spark.sinks.snapshot import (
    DATA_DIR,
    MANIFEST_DIR,
    read_manifest,
    read_snapshot,
    write_snapshot,
)
from firebase_realtime_database_backup_spark.sources.firebase import FakeFirebase
from firebase_realtime_database_backup_spark.sources.tree import (
    TREE_SCHEMA,
    rows_from_dict,
    tree_table,
)

SF = catalog.default_sf_dir()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted from a job group
    once the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _forget(path: str) -> None:
    """Drop the cached schema of ``path`` under every setting."""
    path = os.path.abspath(path)
    for key in [k for k in catalog._SCHEMAS if k[0] == path]:
        catalog._SCHEMAS.pop(key, None)


def test_repeat_read_table_runs_no_jobs(spark):
    _forget(os.path.join(SF, "orders.parquet"))
    first, n_first = _jobs(spark, lambda: catalog.read_table(spark, SF, "orders"))
    again, n_again = _jobs(spark, lambda: catalog.read_table(spark, SF, "orders"))
    assert n_first == 1  # the one footer-inference job
    assert n_again == 0
    assert again.schema == first.schema


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id", "'a' AS s").write.parquet(path)
    assert catalog.read_parquet(spark, path).columns == ["id", "s"]
    spark.range(3).selectExpr("id", "id * 2.0 AS x", "true AS b").write.mode(
        "overwrite"
    ).parquet(path)
    df, n = _jobs(spark, lambda: catalog.read_parquet(spark, path))
    assert n == 1
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r.x for r in df.collect()) == [0.0, 2.0, 4.0]


@pytest.mark.parametrize("name", catalog.TABLES)
def test_cached_schema_equals_inferred(spark, name):
    path = os.path.join(SF, f"{name}.parquet")
    catalog.read_parquet(spark, path)
    cached, n = _jobs(spark, lambda: catalog.read_parquet(spark, path))
    assert n == 0
    assert cached.schema == spark.read.parquet(path).schema


def test_sink_schemas_equal_inferred(spark, tmp_path):
    old = tree_df(spark, {"a": {"x": 1, "y": [1, 2]}, "b": "s"})
    new = tree_df(spark, {"a": {"x": 2}, "c": {"z": True}})
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")
    write_snapshot(old.toArrow(), snap)
    incremental_backup(spark, new, snap, delta)

    tree, n = _jobs(spark, lambda: read_snapshot(spark, snap))
    inferred = spark.read.parquet(os.path.join(snap, DATA_DIR))
    assert n == 0
    assert tree.schema == inferred.select(TREE_SCHEMA.names).schema

    manifest, n = _jobs(spark, lambda: read_manifest(spark, snap))
    assert n == 0
    assert manifest.schema == spark.read.json(os.path.join(snap, MANIFEST_DIR)).schema

    inferred = spark.read.parquet(os.path.join(delta, "delta")).schema
    assert from_arrow_schema(read_delta(delta).schema) == inferred
    assert read_delta(delta).schema == DELTA_SCHEMA


def test_restore_and_diff_job_counts(spark, tmp_path):
    """do_backup writes its snapshot from the driver's Arrow table and
    do_restore scans it on the driver: neither runs a Spark job.
    incremental_backup diffs on the driver too: no job for a tree table,
    one at most (its `toArrow`) for a tree frame, and both write the
    same delta."""
    old_tree = {"a": {"x": 1, "y": [1, 2]}, "b": "s"}
    new_tree = {"a": {"x": 2}, "c": {"z": True}}
    new = tree_df(spark, new_tree)
    backup = str(tmp_path / "backup")
    _, n = _jobs(spark, lambda: api.do_backup(spark, FakeFirebase(old_tree), backup))
    assert n == 0

    dst = FakeFirebase({})
    _, n = _jobs(spark, lambda: api.do_restore(spark, backup, lambda: dst))
    assert n == 0
    assert dst.tree == old_tree

    snap = str(tmp_path / "snap")
    write_snapshot(tree_df(spark, old_tree).toArrow(), snap)

    d_table, d_frame = str(tmp_path / "dt"), str(tmp_path / "df")
    table = tree_table(rows_from_dict(new_tree))
    counts, n = _jobs(spark, lambda: incremental_backup(spark, table, snap, d_table))
    assert n == 0
    frame_counts, n = _jobs(
        spark, lambda: incremental_backup(spark, new, snap, d_frame)
    )
    assert n <= 1
    assert counts == frame_counts == {"added": 2, "removed": 2, "changed": 2}

    rows = [
        sorted(zip(*read_delta(d).to_pydict().values())) for d in (d_table, d_frame)
    ]
    assert rows[0] == rows[1]
    assert len(rows[0]) == 6


def test_incremental_backup_fails_before_collecting(spark, tmp_path):
    """A missing previous snapshot, or an output URI pyarrow has no
    filesystem for, fails before the current frame is collected: the
    failed call runs no Spark job."""
    new = tree_df(spark, {"a": {"x": 2}})
    snap = str(tmp_path / "snap")
    write_snapshot(new.toArrow(), snap)
    for prev, out, error in (
        (snap, "s3a://bucket/delta", ValueError),
        (str(tmp_path / "missing"), str(tmp_path / "delta"), FileNotFoundError),
    ):
        def call():
            with pytest.raises(error):
                incremental_backup(spark, new, prev, out)

        _, n = _jobs(spark, call)
        assert n == 0


def test_concurrent_reads(spark):
    for name in catalog.TABLES:
        _forget(os.path.join(SF, f"{name}.parquet"))
    names = list(catalog.TABLES) * 3
    with ThreadPoolExecutor(3) as pool:
        dfs = list(pool.map(lambda n: catalog.read_table(spark, SF, n), names))
    for name, df in zip(names, dfs):
        assert df.schema == catalog.read_table(spark, SF, name).schema


#: every registered query that registers temp views for its SQL
SQL_QUERIES = sorted(
    name
    for name, fn in entry.queries().items()
    if "register_views(" in inspect.getsource(fn)
)


def test_sql_queries_found():
    assert len(SQL_QUERIES) >= 11, SQL_QUERIES


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_register_views_names_every_table(spark, name):
    """Each SQL query registers every view it reads: with no views left
    over from other queries, analysis must still resolve."""
    for table in catalog.TABLES:
        spark.catalog.dropTempView(table)
    df = entry.queries()[name](spark, SF)
    assert df.columns
