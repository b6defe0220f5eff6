"""Snapshot sink: partitioned parquet + manifest — the reference's
chunk-file / metadata.json / tar.gz pipeline (S9-S11), written from the
driver's Arrow table.

Mapping (SURVEY.md §2.A):
- chunk files  `<md5(uniqid)>.json`  (src/BackupProcessor.php:202-223)
      → zstd parquet files, one per top-level key directory, written by
        the process that holds the rows — as the reference's client
        writes its own chunk files
- metadata.json path→chunks manifest (src/BackupProcessor.php:49-51)
      → `_manifest/` JSON lines: path → row count and part files
        (parquet footers + directory listing already cover rediscovery;
        the manifest keeps the reference's restore contract auditable)
- tar.gz archive (src/BackupProcessor.php:225-242)
      → a directory convention; at 100 TB a single tar stream is
        precisely the bottleneck to avoid — a snapshot IS a directory of
        independently compressed columnar files

Partitioning: by `top` (first path segment).  Top-level subtrees are the
reference's unit of descent, so they are also the pruning key: restoring
or querying one subtree reads one partition directory, nothing else.

Writing runs no Spark job.  The extract ends with every row on the
driver as one Arrow table, so `write_snapshot` writes that table's rows
with `pyarrow.parquet`, one file per top key; shipping it to the JVM to
shuffle and write it, then reading the files back to build the manifest,
cost four jobs.  The driver holds that table (which it already held),
its `top` column and one manifest row per path.  The directories are
named here, not by pyarrow's partitioned writer, which percent-encodes
non-ASCII (a long non-ASCII key then passes the 255-byte name limit
that Spark's raw names stay under).

The on-disk format is the one Spark's writer produced, so snapshots
written before and after read alike: `tree/top=<key>/*.parquet` with the
directory named as Spark's `partitionBy` names it (`_spark_escape`), and
manifest lines in MANIFEST_SCHEMA whose `part_files` are absolute
`file://` URIs in the form `input_file_name()` gives (`_file_uri`).

Commit rule: a snapshot is complete once its manifest exists.  An
overwrite removes the old manifest first and writes the new one last,
and a write that raises removes the data and manifest it created, so a
failed write never leaves `tree/` files behind a manifest.

Reads carry a schema.  The sink wrote these files and knows their
schema, so no read of a snapshot or manifest pays Spark's inference
job (a footer read for parquet, a full scan for JSON).  The known
schema is also what makes an EMPTY snapshot readable: a row-less
directory has no footer to infer from.  Unlike catalog.read_parquet's
content-keyed cache, nothing is remembered here — the schema is a
constant of the format.

Restore reads a snapshot on the driver too: `snapshot_dataset` opens the
same files as a `pyarrow.dataset` with the same known schema, so a
restore runs no Spark job.
"""

from __future__ import annotations

import json
import os
import string
from typing import TYPE_CHECKING
from urllib.parse import quote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq

from firebase_realtime_database_backup_spark.sources.tree import TREE_SCHEMA

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

MANIFEST_DIR = "_manifest"
DATA_DIR = "tree"

#: The data files' schema: the tree columns plus the `top` partition
#: column, which stays a string even when every top key looks numeric.
SNAPSHOT_SCHEMA = TREE_SCHEMA.append(pa.field("top", pa.string()))

#: The manifest's JSON schema, in the (alphabetical) column order JSON
#: inference produces.
MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("n_rows", pa.int64()),
        pa.field("part_files", pa.list_(pa.string())),
        pa.field("path", pa.string()),
    ]
)

#: ASCII characters Spark's partition writer writes as %XX in a
#: directory name (ExternalCatalogUtils.escapePathName); every other
#: character, non-ASCII included, stays raw.
_SPARK_ESCAPED = frozenset(
    [chr(c) for c in range(1, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^")
)

#: The one data file of a top-key directory.
_PART_FILE = "part-00000.zstd.parquet"

#: Spark's directory name for an empty or null partition value.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: ASCII characters java.net.URI leaves raw in a path, as in the
#: `input_file_name()` URIs of Spark-written manifests.
_URI_RAW = frozenset(string.ascii_letters + string.digits + "-_.!~*'(),;:$&+=@/")


def _spark_escape(value: str) -> str:
    """A partition value as Spark's `partitionBy` names its directory."""
    if not value:
        return _NULL_PARTITION
    return "".join(f"%{ord(c):02X}" if c in _SPARK_ESCAPED else c for c in value)


def _file_uri(scheme: str, path: str) -> str:
    """`path` as the absolute URI `input_file_name()` gives: ASCII
    outside _URI_RAW, spaces and controls percent-encoded, other
    non-ASCII raw."""
    return f"{scheme}://" + "".join(
        c if c in _URI_RAW or (c > "\x7f" and c.isprintable()) else quote(c, safe="")
        for c in path
    )


def _resolve(out_dir: str) -> tuple[pafs.FileSystem, str, str]:
    """(filesystem, path in it, URI scheme) of a snapshot directory; a
    plain path is made absolute.  Raises pyarrow's ArrowInvalid, a
    ValueError naming the URI, for a scheme it has no filesystem for."""
    scheme = urlparse(out_dir).scheme
    if not scheme:
        out_dir = os.path.abspath(out_dir)
    fs, path = pafs.FileSystem.from_uri(out_dir)
    return fs, path.rstrip("/"), scheme or "file"


def _top_dirs(tree: pa.Table) -> pa.ChunkedArray:
    """Each row's partition directory value: the first path segment
    (the key itself for a root row), escaped by `_spark_escape`.  Only
    the distinct top keys are escaped in Python."""
    path = tree.column("path")
    top = pc.if_else(
        pc.equal(path, "/"),
        tree.column("key"),
        pc.list_element(pc.split_pattern(path, "/", max_splits=2), 1),
    )
    keys = pc.unique(top)
    dirs = pa.array([_spark_escape(k) for k in keys.to_pylist()], pa.string())
    return pc.take(dirs, pc.index_in(top, value_set=keys))


def _remove(fs: pafs.FileSystem, *dirs: str) -> None:
    for d in dirs:
        if fs.get_file_info(d).type != pafs.FileType.NotFound:
            fs.delete_dir(d)


def _manifest_lines(tree: pa.Table, top: pa.ChunkedArray, files: dict[str, str]) -> str:
    """The manifest as JSON lines, one per path: its row count and the
    sorted URIs of its directories' files.  Every path but the root
    lies in one directory, so a directory's URI list is encoded once."""
    per_path = (
        pa.table({"path": tree.column("path"), "top": top})
        .group_by("path", use_threads=False)
        .aggregate([("path", "count"), ("top", "distinct")])
    )
    encoded: dict[frozenset, str] = {}
    lines = []
    for path, n, tops in zip(
        per_path.column("path").to_pylist(),
        per_path.column("path_count").to_pylist(),
        per_path.column("top_distinct").to_pylist(),
    ):
        tops = frozenset(tops)
        if tops not in encoded:
            uris = sorted(files[t] for t in tops)
            encoded[tops] = json.dumps(uris, ensure_ascii=False)
        path = json.dumps(path, ensure_ascii=False)
        lines.append(f'{{"path":{path},"n_rows":{n},"part_files":{encoded[tops]}}}\n')
    return "".join(lines)


def write_snapshot(tree: pa.Table, out_dir: str) -> None:
    """Write a tree table (TREE_SCHEMA's columns: `tree_table`, or a
    frame's `toArrow()`) as a zstd parquet snapshot with one file per
    top-key directory, plus its path-level manifest, from the driver:
    no Spark job.

    The bytes depend only on the rows, not on their order in `tree`
    (an extract's order follows which thread finished first): the rows
    are sorted by (path, key) once, and every grouping keeps that order.

    Driver memory: `tree` itself, which an extract already holds, plus
    its sorted copy, one `top` string and one row number per row, the
    rows of the top key being written, and one manifest line per
    distinct path.

    Always overwrites — the reference's reset_backup_dir
    (src/BackupProcessor.php:55-61): the old manifest goes first, the
    new one is written last, and a write that raises removes what it
    wrote (module docstring).

    `out_dir` is a local path or a URI pyarrow has a filesystem for
    (`file://`, and `s3://`, `gs://`, `hdfs://` where pyarrow was built
    with them and, for `hdfs://`, libhdfs is present).  A scheme only
    Hadoop serves, such as `s3a://`, raises ValueError naming the URI,
    where Spark's writer would have written it."""
    fs, root, scheme = _resolve(out_dir)
    data_dir, manifest_dir = f"{root}/{DATA_DIR}", f"{root}/{MANIFEST_DIR}"
    tree = tree.select(TREE_SCHEMA.names).sort_by(
        [("path", "ascending"), ("key", "ascending")]
    )
    top = _top_dirs(tree)
    rows_by_top = (
        pa.table({"top": top, "row": np.arange(tree.num_rows)})
        .group_by("top", use_threads=False)
        .aggregate([("row", "list")])
    )
    files: dict[str, str] = {}
    _remove(fs, manifest_dir, data_dir)
    try:
        fs.create_dir(data_dir)  # also for an empty tree, which has no file
        for name, rows in zip(
            rows_by_top.column("top").to_pylist(), rows_by_top.column("row_list")
        ):
            part = f"{data_dir}/top={name}/{_PART_FILE}"
            fs.create_dir(part.rsplit("/", 1)[0])
            pq.write_table(
                tree.take(rows.values),
                part,
                filesystem=fs,
                compression="zstd",
                # value_json is mostly distinct: a dictionary only grows it
                use_dictionary=["path", "key", "depth"],
            )
            files[name] = _file_uri(scheme, part)
        lines = _manifest_lines(tree, top, files)
        fs.create_dir(manifest_dir)
        with fs.open_output_stream(f"{manifest_dir}/part-00000.json") as out:
            out.write(lines.encode("utf-8"))
    except BaseException:
        _remove(fs, manifest_dir, data_dir)
        raise


def read_snapshot(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a snapshot back as the canonical tree relation (partition
    column dropped; schema restored)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from firebase_realtime_database_backup_spark.catalog import read_parquet

    path = os.path.join(out_dir, DATA_DIR)
    df = read_parquet(spark, path, from_arrow_schema(SNAPSHOT_SCHEMA))
    return df.select(TREE_SCHEMA.names)


def snapshot_dataset(out_dir: str) -> ds.Dataset:
    """The snapshot's tree rows as a driver-side `pyarrow.dataset` with
    the known schema (TREE_SCHEMA): reading it runs no Spark
    job, and an empty snapshot reads as zero rows.

    Raises FileNotFoundError if `out_dir` holds no data directory, and
    ValueError naming the URI if pyarrow has no filesystem for its
    scheme (e.g. a Hadoop-only `s3a://`)."""
    fs, root, _ = _resolve(out_dir)
    path = f"{root}/{DATA_DIR}"
    if fs.get_file_info(path).type != pafs.FileType.Directory:
        raise FileNotFoundError(
            f"snapshot {out_dir!r} has no {DATA_DIR}/ data directory"
        )
    return ds.dataset(
        path, schema=TREE_SCHEMA, format="parquet", filesystem=fs
    )


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    from pyspark.sql.pandas.types import from_arrow_schema

    return spark.read.schema(from_arrow_schema(MANIFEST_SCHEMA)).json(
        os.path.join(out_dir, MANIFEST_DIR)
    )


def archive_snapshot(out_dir: str, archive_path: str | None = None) -> str:
    """Pack a written snapshot directory into one `.tar.gz` — the
    reference's final export artifact (PharData tar + GZ compress,
    src/BackupProcessor.php:225-242).  Driver-side and single-stream by
    nature, so it is an OPTIONAL convenience for parity / small-export
    portability: at 100 TB the snapshot directory itself is the
    artifact (parquet part-files are already independently
    compressed), and a single tar stream is exactly the bottleneck the
    distributed sink avoids."""
    import tarfile

    archive_path = archive_path or out_dir.rstrip("/") + ".tar.gz"
    with tarfile.open(archive_path, "w:gz") as tf:
        tf.add(out_dir, arcname=os.path.basename(out_dir.rstrip("/")))
    return archive_path


def unarchive_snapshot(archive_path: str, dest_dir: str) -> str:
    """Unpack an archived snapshot (the reference's decompressedBackup,
    src/RestoreProcessor.php:45-54) and return the inner snapshot dir."""
    import tarfile

    with tarfile.open(archive_path, "r:gz") as tf:
        names = tf.getnames()
        tf.extractall(dest_dir, filter="data")
    top = sorted({n.split("/", 1)[0] for n in names})
    if len(top) != 1:
        raise ValueError(f"archive holds {len(top)} top-level entries: {top}")
    return os.path.join(dest_dir, top[0])
