"""Facade + CLI: export -> restore end-to-end equals identity, and the
naming/option semantics match the reference (sanitizer, URL template,
confirmation guard)."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

from firebase_realtime_database_backup_spark.api import (
    default_backup_name,
    do_backup,
    do_restore,
    main,
    project_url,
    sanitize_name,
)
from firebase_realtime_database_backup_spark.sources.firebase import FakeFirebase

TREE = {
    "users": {"u1": {"name": "ada", "age": 36}, "u2": {"name": "lin"}},
    "cfg": {"dark": True, "limits": {"qps": 10}},
    "motd": "hello",
}


def test_sanitizer_matches_reference_regex():
    assert sanitize_name("my proj/2024:v1.0") == "my-proj-2024-v1-0"
    assert project_url("demo") == "https://demo.firebaseio.com"
    assert default_backup_name("p!d").startswith("p-d-")


def test_backup_restore_identity(spark, tmp_path):
    out = str(tmp_path / "snap")
    do_backup(spark, FakeFirebase(json.loads(json.dumps(TREE))), out)
    target = FakeFirebase({})
    # the keyword is ignored; the benchmark's ETL workload still passes it
    do_restore(spark, out, lambda: target, driver_side=True)
    assert target.tree == TREE


def test_cli_export_offline(spark, tmp_path, capsys):
    src = tmp_path / "tree.json"
    src.write_text(json.dumps(TREE))
    out = str(tmp_path / "cli_snap")
    rc = main([
        "export", "-p", "demo", "--tree-json", str(src), "--output_dir", out,
    ])
    assert rc == 0
    assert "exported" in capsys.readouterr().out


def test_cli_import_requires_confirmation(spark, tmp_path, monkeypatch, capsys):
    src = tmp_path / "tree.json"
    src.write_text(json.dumps(TREE))
    out = str(tmp_path / "cli_snap2")
    main(["export", "-p", "demo", "--tree-json", str(src), "--output_dir", out])
    monkeypatch.setattr("builtins.input", lambda: "no")
    rc = main(["import", "-p", "demo", "--tree-json", str(src),
               "--backup_dir", out])
    assert rc == 1 and "aborted" in capsys.readouterr().out
    rc = main(["import", "-p", "demo", "--tree-json", str(src),
               "--backup_dir", out, "--yes"])
    assert rc == 0
    # the import reports its writeback stats on one line
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert line.startswith("restored ") and " keys in " in line
    assert " patches, 0 halvings, 0 splits" in line


def _no_spark(monkeypatch, command):
    """Make get_spark fail if `command` calls it."""
    from firebase_realtime_database_backup_spark import session

    def no_spark(*_, **__):
        raise AssertionError(f"{command} started a SparkSession")

    monkeypatch.setattr(session, "get_spark", no_spark)


def test_cli_import_starts_no_spark(spark, tmp_path, monkeypatch, capsys):
    """A restore runs no Spark job, so the import command starts no
    SparkSession: it completes with get_spark failing if called, and
    the active session unchanged."""
    from pyspark.sql import SparkSession

    out = str(tmp_path / "snap")
    do_backup(spark, FakeFirebase(json.loads(json.dumps(TREE))), out)
    empty = tmp_path / "empty.json"
    empty.write_text("{}")
    _no_spark(monkeypatch, "import")
    active = SparkSession.getActiveSession()
    rc = main(["import", "-p", "demo", "--tree-json", str(empty),
               "--backup_dir", out, "--yes"])
    assert rc == 0
    assert "restored" in capsys.readouterr().out
    assert SparkSession.getActiveSession() is active


def test_cli_export_starts_no_spark(spark, tmp_path, monkeypatch, capsys):
    """A backup runs no Spark job, so the export command starts no
    SparkSession, and it reports the rows of the table it wrote."""
    from pyspark.sql import SparkSession

    from firebase_realtime_database_backup_spark.sinks.snapshot import (
        snapshot_dataset,
    )

    src = tmp_path / "tree.json"
    src.write_text(json.dumps(TREE))
    out = str(tmp_path / "snap")
    _no_spark(monkeypatch, "export")
    active = SparkSession.getActiveSession()
    assert main(["export", "-p", "demo", "--tree-json", str(src),
                 "--output_dir", out]) == 0
    n = snapshot_dataset(out).count_rows()
    assert f"exported {n} tree rows" in capsys.readouterr().out and n > 0
    assert SparkSession.getActiveSession() is active


def test_cli_diff_starts_no_spark(spark, tmp_path, monkeypatch, capsys):
    """The diff command diffs the extract's table on the driver, so it
    starts no SparkSession; a missing previous snapshot fails before
    the extract sends its first request."""
    from pyspark.sql import SparkSession

    from firebase_realtime_database_backup_spark import api

    v2 = json.loads(json.dumps(TREE))
    v2["motd"] = "changed!"
    src1 = tmp_path / "v1.json"; src1.write_text(json.dumps(TREE))
    src2 = tmp_path / "v2.json"; src2.write_text(json.dumps(v2))
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")
    do_backup(spark, FakeFirebase(json.loads(json.dumps(TREE))), snap)
    _no_spark(monkeypatch, "diff")
    active = SparkSession.getActiveSession()
    assert main(["diff", "-p", "demo", "--tree-json", str(src2),
                 "--prev_dir", snap, "--output_dir", delta]) == 0
    assert "+0 -0 ~1" in capsys.readouterr().out
    assert SparkSession.getActiveSession() is active

    requests = []
    make_client = api._make_client

    def counting_client(args):
        client = make_client(args)
        get = client.get
        client.get = lambda *a, **kw: requests.append(a) or get(*a, **kw)
        return client

    monkeypatch.setattr(api, "_make_client", counting_client)
    with pytest.raises(FileNotFoundError, match="missing"):
        main(["diff", "-p", "demo", "--tree-json", str(src1),
              "--prev_dir", str(tmp_path / "missing"), "--output_dir", delta])
    assert requests == []


def test_cli_diff_incremental(spark, tmp_path, capsys):
    v1 = dict(TREE)
    v2 = json.loads(json.dumps(TREE))
    v2["motd"] = "changed!"
    v2["extra"] = {"k": 1}
    src1 = tmp_path / "v1.json"; src1.write_text(json.dumps(v1))
    src2 = tmp_path / "v2.json"; src2.write_text(json.dumps(v2))
    snap = str(tmp_path / "snap_v1")
    delta = str(tmp_path / "delta_v2")
    assert main(["export", "-p", "demo", "--tree-json", str(src1),
                 "--output_dir", snap]) == 0
    assert main(["diff", "-p", "demo", "--tree-json", str(src2),
                 "--prev_dir", snap, "--output_dir", delta]) == 0
    out = capsys.readouterr().out
    assert "delta written" in out and "+" in out
    from firebase_realtime_database_backup_spark.sinks.incremental import (
        restore_to_version,
    )
    from firebase_realtime_database_backup_spark.sources.tree import tree_to_dict

    restored = restore_to_version(snap, [delta])
    assert tree_to_dict(restored) == v2


#: The ETL commands and the delta chain in a process where every pyspark
#: import raises: argv is v1.json, v2.json, empty.json and three output
#: directories.
_NO_PYSPARK = """
import json, sys
sys.modules["pyspark"] = None
from firebase_realtime_database_backup_spark.api import main
from firebase_realtime_database_backup_spark.sinks.incremental import (
    checkpoint_chain, expire_chain, restore_to_version)
from firebase_realtime_database_backup_spark.sinks.snapshot import snapshot_dataset
from firebase_realtime_database_backup_spark.sources.tree import tree_to_dict
v1, v2, empty, snap, delta, ckpt = sys.argv[1:]
for argv in (
    ["export", "-p", "demo", "--tree-json", v1, "--output_dir", snap],
    ["diff", "-p", "demo", "--tree-json", v2, "--prev_dir", snap,
     "--output_dir", delta],
    ["import", "-p", "demo", "--tree-json", empty, "--backup_dir", snap, "--yes"],
):
    assert main(argv) == 0, argv
with open(v2) as fh:
    want = json.load(fh)
assert tree_to_dict(restore_to_version(snap, [delta])) == want
checkpoint_chain(snap, [delta], ckpt)
assert expire_chain(ckpt, snap, [delta]) == [snap, delta]
assert tree_to_dict(snapshot_dataset(ckpt).to_table()) == want
assert not [m for m in sys.modules if m.startswith("pyspark.")]
"""


def test_etl_commands_import_no_pyspark(tmp_path):
    """export, diff and import --yes, then the chain's replay,
    checkpoint and retention, all run in a process that cannot import
    pyspark: the ETL loads no Spark, so it runs no Spark job."""
    v2 = json.loads(json.dumps(TREE))
    v2["motd"] = "changed!"
    v2["users"]["u3"] = {"name": "kim"}
    del v2["users"]["u2"]
    args = []
    for name, tree in (("v1", TREE), ("v2", v2), ("empty", {})):
        path = tmp_path / f"{name}.json"
        path.write_text(json.dumps(tree))
        args.append(str(path))
    args += [str(tmp_path / d) for d in ("snap", "delta", "ckpt")]
    run = subprocess.run(
        [sys.executable, "-c", _NO_PYSPARK, *args],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "delta written" in run.stdout and "restored " in run.stdout


def test_cli_query_list_run_explain(spark, capsys):
    # list: every registered query with its check tier
    assert main(["query"]) == 0
    out = capsys.readouterr().out
    assert "flagship_revenue  [oracle]" in out
    assert "dedup_minhash_ml  [rows-only]" in out
    # run: rows printed
    assert main(["query", "tpch_q6_forecast",
                 "--sf_dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "revenue" in out and "n_items" in out
    # explain: physical plan, not rows
    assert main(["query", "tpch_q6_forecast", "--explain",
                 "--sf_dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out
    # unknown name: error exit, helpful message
    assert main(["query", "definitely_not_a_query"]) == 2
    assert "unknown query" in capsys.readouterr().err


def test_cli_export_archive_then_import_from_archive(
    spark, tmp_path, capsys, monkeypatch
):
    """--archive packs the snapshot as <out>.tar.gz (S11) and import
    accepts the archive path directly (R1), restoring identity; the
    unpacked copy is removed once the restore returns."""
    src = tmp_path / "tree.json"
    src.write_text(json.dumps(TREE))
    out = str(tmp_path / "cli_snap3")
    rc = main(["export", "-p", "demo", "--tree-json", str(src),
               "--output_dir", out, "--archive"])
    assert rc == 0
    assert "archived to" in capsys.readouterr().out
    import os
    assert os.path.exists(out + ".tar.gz")

    empty = tmp_path / "empty.json"
    empty.write_text("{}")
    tmp_root = tmp_path / "tmp_root"
    tmp_root.mkdir()
    monkeypatch.setattr("tempfile.tempdir", str(tmp_root))
    rc = main(["import", "-p", "demo", "--tree-json", str(empty),
               "--backup_dir", out + ".tar.gz", "--yes"])
    assert rc == 0
    assert "restored" in capsys.readouterr().out
    assert os.listdir(tmp_root) == []


def test_read_table_normalizes_ntz_timestamps(spark, tmp_path, monkeypatch):
    """Parquet written without UTC adjustment reads back TIMESTAMP_NTZ;
    read_table must normalize every such column to TimestampType (the
    strict-typed time functions reject NTZ and NTZ/LTZ unions don't
    coerce).  Regression: the driver regenerated testdata with NTZ
    timestamps mid-round and unix_millis(ts) started failing."""
    import os

    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark import catalog

    sf_dir = str(tmp_path)
    spark.sql(
        "SELECT CAST(1 AS BIGINT) AS event_id,"
        " TIMESTAMP_NTZ '2024-01-01 00:00:07' AS ts,"
        " CAST(8 AS BIGINT) AS user_id, 'click' AS event_type,"
        " CAST(1.5 AS DOUBLE) AS value, '{}' AS props"
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "events.parquet"))

    df = catalog.read_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # wall-clock preserved under the UTC session timezone
    row = df.select(F.unix_millis("ts").alias("ms")).first()
    assert row.ms == 1704067207000
