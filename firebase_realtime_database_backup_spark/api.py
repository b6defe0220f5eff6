"""User-facing facade + CLI: the reference's two-command surface,
Sparkified.

Reference programmatic surface (SURVEY.md §3 entry point 3):
    new BackupProcessor($url, $token, $temp_dir, $backup_file, $max_ipp)
        ->do_backup($root_start_ipp)        src/BackupProcessor.php:20-53
    new RestoreProcessor($url, $token, $backup_file, $temp_dir)
        ->do_restore()                      src/RestoreProcessor.php:27-68

Engine equivalents:
    do_backup(spark, client, out_dir, ...)  extract -> Arrow table ->
                                            partitioned parquet snapshot
                                            + manifest; returns the
                                            table (no Spark job)
    do_restore(spark, snapshot_dir, client_factory, ...)
                                            snapshot -> AIMD writeback
                                            (no Spark job)

CLI (`python -m firebase_realtime_database_backup_spark <cmd> ...`)
mirrors the reference's commands and options (C1-C5, SURVEY.md §2.A):
positional command dispatch (frdbackup:15-35), -p/-k required options
(AbstractCommand.php:95-114), URL templating https://<id>.firebaseio.com
(AbstractCommand.php:11), default backup name <project>-<ISO-8601> with
filename sanitizing (BackupProcessor.php:23-24,227), and the
destructive-restore confirmation guard (ImportCommand.php:33-44) as
--yes.  Live databases are reached through the real REST client
(sources/http_client.py, stub-server-tested); --tree-json swaps in the
offline FakeFirebase so the full pipeline also runs hermetically in
tests and sandboxes.  Export has no --root_start_ipp: the engine lists
the root and pages its children, so the root's page size never applied.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import re
import sys
from collections.abc import Callable
from typing import TYPE_CHECKING

import pyarrow as pa

from firebase_realtime_database_backup_spark.sinks.snapshot import (
    _resolve,
    snapshot_dataset,
    write_snapshot,
)
from firebase_realtime_database_backup_spark.sinks.writeback import (
    WritebackStats,
    writeback,
)
from firebase_realtime_database_backup_spark.sources.firebase import (
    DEFAULT_MAX_IPP,
    FirebaseClient,
    extract,  # noqa: F401 — an `api` attribute the benchmark's tracer wraps
    extract_table,
)

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

URL_TEMPLATE = "https://%s.firebaseio.com"  # AbstractCommand.php:11


def sanitize_name(name: str) -> str:
    """The reference's output-name sanitizer:
    preg_replace('/[^a-zA-Z0-9]+/', '-') (src/BackupProcessor.php:227)."""
    return re.sub(r"[^a-zA-Z0-9]+", "-", name)


def default_backup_name(project_id: str, now: _dt.datetime | None = None) -> str:
    """<project>-<ISO-8601 now> (src/BackupProcessor.php:23-24)."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    return sanitize_name(f"{project_id}-{now.strftime('%Y-%m-%dT%H-%M-%S')}")


def project_url(project_id: str) -> str:
    return URL_TEMPLATE % project_id


def do_backup(
    spark: SparkSession | None,
    client: FirebaseClient,
    out_dir: str,
    *,
    max_ipp: int = DEFAULT_MAX_IPP,
    parallelism: int = 8,
) -> pa.Table:
    """Export: AIMD paginated extract on `parallelism` driver threads
    into one Arrow tree table (`sources.firebase.extract_table`) ->
    partitioned parquet snapshot with manifest, written from the driver
    (`sinks.snapshot.write_snapshot`).  Runs no Spark job, and `spark`
    is unused; the benchmark's ETL workload passes it.

    The driver holds the whole tree once, as the table the extract
    builds; the snapshot writer adds one partition string per row.
    Returns that table.  `out_dir` is a local path or a URI pyarrow has
    a filesystem for; it is resolved before the extract, so a
    Hadoop-only scheme such as `s3a://` raises ValueError before the
    first request."""
    _resolve(out_dir)
    table = extract_table(client, max_ipp=max_ipp, parallelism=parallelism)
    write_snapshot(table, out_dir)
    return table


def do_restore(
    spark: SparkSession | None,
    snapshot_dir: str,
    client_factory: Callable[[], FirebaseClient],
    *,
    max_batch: int = DEFAULT_MAX_IPP,
    driver_side: bool = True,
) -> WritebackStats:
    """Import: snapshot -> AIMD batched merge-PATCH writeback (driver
    threads and memory bound: `sinks.writeback.writeback`).

    The snapshot is scanned on the driver with `pyarrow.dataset`
    (`sinks.snapshot.snapshot_dataset`), so a restore runs no Spark job
    and `spark` is unused.  Neither `spark` nor `driver_side` (restore
    has one path, the driver's) changes anything; both stay because the
    benchmark's ETL workload (`perfbench/workloads.py`) passes them."""
    return writeback(
        snapshot_dataset(snapshot_dir), client_factory, max_batch=max_batch
    )


# ---------------------------------------------------------------------------
# CLI (C1-C5)
# ---------------------------------------------------------------------------

def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="frdbackup-spark")
    sub = p.add_subparsers(dest="command", required=True)  # C1 dispatch

    def common(sp: argparse.ArgumentParser) -> None:
        sp.add_argument("-p", "--project_id", required=True)  # C3
        sp.add_argument("-k", "--project_key", default="")
        sp.add_argument(
            "--tree-json",
            help="offline mode: path to a JSON file served via FakeFirebase",
        )

    exp = sub.add_parser("export")
    common(exp)
    exp.add_argument("--output_dir", default=None)
    exp.add_argument("--max_ipp", type=int, default=DEFAULT_MAX_IPP)
    exp.add_argument(
        "--archive",
        action="store_true",
        help="also pack the snapshot into <output_dir>.tar.gz "
        "(the reference's single-file artifact; optional because a "
        "snapshot directory is the scalable form)",
    )

    imp = sub.add_parser(
        "import",
        help="restore a snapshot from the driver: depth levels in order, "
        "each on concurrent connections; the driver holds one depth "
        "chunk of the snapshot at a time",
    )
    common(imp)
    imp.add_argument("--backup_dir", required=True)
    imp.add_argument("--yes", action="store_true", help="skip confirmation")  # C5

    dif = sub.add_parser(
        "diff", help="incremental export: delta vs a previous snapshot"
    )
    common(dif)
    dif.add_argument("--prev_dir", required=True)
    dif.add_argument("--output_dir", required=True)

    qry = sub.add_parser(
        "query",
        help="run a registered analytics query (or list/explain them)",
    )
    qry.add_argument(
        "name", nargs="?", default=None, help="query name; omit to list all"
    )
    qry.add_argument("--sf_dir", default="/root/testdata/sf0.001")
    qry.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of rows",
    )
    qry.add_argument("--limit", type=int, default=20)
    return p


def _make_client(args):
    """--tree-json → offline FakeFirebase; otherwise the real HTTP REST
    client against https://<project_id>.firebaseio.com with the -k
    database secret (AbstractCommand.php:95-114)."""
    if args.tree_json is not None:
        import json

        from firebase_realtime_database_backup_spark.sources.firebase import (
            FakeFirebase,
        )

        with open(args.tree_json) as f:
            return FakeFirebase(json.load(f))
    from firebase_realtime_database_backup_spark.sources.http_client import (
        HttpFirebase,
    )

    return HttpFirebase(
        project_url(args.project_id), auth_token=args.project_key or None
    )


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.command == "query":
        from firebase_realtime_database_backup_spark.registry import build_registry

        reg = build_registry(warn=lambda m: print(f"WARNING: {m}", file=sys.stderr))
        if args.name is None:
            for name in sorted(reg.queries):
                marker = "oracle" if name in reg.oracles else "rows-only"
                twin = reg.prod_twins.get(name)
                scale = f"  [teaching variant — at scale use {twin}]" if twin else ""
                print(f"{name}  [{marker}]{scale}")
            return 0
        if args.name not in reg.queries:
            print(f"unknown query {args.name!r}; run with no name to list",
                  file=sys.stderr)
            return 2

    if args.command == "import":
        return _import(args)
    if args.command == "export":
        return _export(args)
    if args.command == "diff":
        return _diff(args)

    from firebase_realtime_database_backup_spark.session import get_spark

    spark = get_spark(app_name=f"frdbackup-spark-{args.command}")

    if args.command == "query":
        df = reg.queries[args.name](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
        return 0


def _export(args) -> int:
    """The export command: a backup runs no Spark job, so it starts no
    SparkSession (`do_backup` ignores its `spark`)."""
    out = args.output_dir or default_backup_name(args.project_id)
    client = _make_client(args)
    table = do_backup(None, client, out, max_ipp=args.max_ipp)
    print(f"exported {table.num_rows} tree rows from "
          f"{project_url(args.project_id)} to {out}")
    if args.archive:
        from firebase_realtime_database_backup_spark.sinks.snapshot import (
            archive_snapshot,
        )

        print(f"archived to {archive_snapshot(out)}")
    return 0


def _diff(args) -> int:
    """The diff command: the extract's table is diffed on the driver
    (`incremental_backup`), so it starts no SparkSession.  The previous
    snapshot is opened and the output resolved before the extract: a
    missing snapshot fails before the first request."""
    from firebase_realtime_database_backup_spark.sinks.incremental import (
        incremental_backup,
    )

    snapshot_dataset(args.prev_dir)
    _resolve(args.output_dir)
    table = extract_table(_make_client(args))
    counts = incremental_backup(None, table, args.prev_dir, args.output_dir)
    print(
        f"delta written to {args.output_dir}: "
        f"+{counts['added']} -{counts['removed']} ~{counts['changed']}"
    )
    return 0


def _import(args) -> int:
    """The import command: a restore runs no Spark job, so it starts no
    SparkSession (`do_restore` ignores its `spark`)."""
    # destructive — confirmation guard (C5, ImportCommand.php:33-44)
    if not args.yes:
        print(
            "WARNING: restoring overwrites target data (and cloud-function "
            "triggers will fire).  Type 'yes' to continue:"
        )
        if input().strip().lower() != "yes":
            print("aborted")
            return 1
    client = _make_client(args)
    if args.backup_dir.endswith((".tar.gz", ".tgz")):  # R1: archived backup
        import tempfile

        from firebase_realtime_database_backup_spark.sinks.snapshot import (
            unarchive_snapshot,
        )

        # the unpacked copy lives only as long as the restore
        with tempfile.TemporaryDirectory() as tmp:
            backup_dir = unarchive_snapshot(args.backup_dir, tmp)
            stats = do_restore(None, backup_dir, lambda: client)
    else:
        stats = do_restore(None, args.backup_dir, lambda: client)
    print(f"restored {args.backup_dir} into {project_url(args.project_id)}: "
          f"{stats.keys_written} keys in {stats.patches} patches, "
          f"{stats.halvings} halvings, {stats.splits} splits")
    return 0


if __name__ == "__main__":
    sys.exit(main())
