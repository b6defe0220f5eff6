"""Snapshot sink: partitioned parquet + manifest — the Spark form of the
reference's chunk-file / metadata.json / tar.gz pipeline (S9-S11).

Mapping (SURVEY.md §2.A):
- chunk files  `<md5(uniqid)>.json`  (src/BackupProcessor.php:202-223)
      → parquet part-files written by tasks (naming, atomicity, and
        retry-safe commit come from Spark's commit protocol for free)
- metadata.json path→chunks manifest (src/BackupProcessor.php:49-51)
      → an explicit manifest DataFrame path → row_count/part-files,
        written next to the data (parquet footers + directory listing
        already cover rediscovery; the manifest keeps the reference's
        restore contract auditable)
- tar.gz archive (src/BackupProcessor.php:225-242)
      → a directory convention + codec option; at 100 TB a single tar
        stream is precisely the bottleneck to avoid — a snapshot IS a
        directory of independently-written compressed columnar files

Partitioning: by `top` (first path segment).  Top-level subtrees are the
reference's unit of descent, so they are also the pruning key: restoring
or querying one subtree reads one partition directory, nothing else.

Reads carry a schema.  The sink wrote these files and knows their
schema, so no read of a snapshot or manifest pays Spark's inference
job (a footer read for parquet, a full scan for JSON).  The known
schema is also what makes an EMPTY snapshot readable: a row-less
directory has no footer to infer from.  Unlike catalog.read_parquet's
content-keyed cache, nothing is remembered here — the schema is a
constant of the format.

Restore reads a snapshot on the driver instead: `snapshot_dataset`
opens the same files as a `pyarrow.dataset` with the same known
schema, so a restore runs no Spark job.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from firebase_realtime_database_backup_spark.catalog import read_parquet
from firebase_realtime_database_backup_spark.sources.tree import TREE_SCHEMA

MANIFEST_DIR = "_manifest"
DATA_DIR = "tree"

#: The data files' schema: the tree columns plus the `top` partition
#: column, which stays a string even when every top key looks numeric.
SNAPSHOT_SCHEMA = StructType(
    TREE_SCHEMA.fields + [StructField("top", StringType())]
)

#: The manifest's JSON schema, in the (alphabetical) column order JSON
#: inference produces.
MANIFEST_SCHEMA = StructType(
    [
        StructField("n_rows", LongType()),
        StructField("part_files", ArrayType(StringType())),
        StructField("path", StringType()),
    ]
)


def _with_top(tree: DataFrame) -> DataFrame:
    top = F.when(F.col("path") == "/", F.col("key")).otherwise(
        F.split(F.col("path"), "/").getItem(1)
    )
    return tree.withColumn("top", top)


def write_snapshot(
    tree: DataFrame,
    out_dir: str,
    *,
    compression: str = "zstd",
    mode: str = "overwrite",
) -> None:
    """Write a tree DataFrame as a partitioned parquet snapshot plus a
    path-level manifest.  `mode='overwrite'` is the reference's
    reset_backup_dir (src/BackupProcessor.php:55-61)."""
    data_path = os.path.join(out_dir, DATA_DIR)
    (
        _with_top(tree)
        .repartition("top")
        .write.mode(mode)
        .option("compression", compression)
        .partitionBy("top")
        .parquet(data_path)
    )
    spark = tree.sparkSession
    written = read_parquet(spark, data_path, SNAPSHOT_SCHEMA)
    manifest = (
        written.withColumn("part_file", F.input_file_name())
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sort_array(F.collect_set("part_file")).alias("part_files"),
        )
    )
    manifest.write.mode(mode).json(os.path.join(out_dir, MANIFEST_DIR))


def read_snapshot(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a snapshot back as the canonical tree relation (partition
    column dropped; schema restored)."""
    df = read_parquet(spark, os.path.join(out_dir, DATA_DIR), SNAPSHOT_SCHEMA)
    return df.select([f.name for f in TREE_SCHEMA.fields])


def snapshot_dataset(out_dir: str) -> ds.Dataset:
    """The snapshot's tree rows as a driver-side `pyarrow.dataset` with
    the known schema (TREE_SCHEMA as Arrow): reading it runs no Spark
    job, and an empty snapshot reads as zero rows.

    Raises FileNotFoundError if `out_dir` holds no data directory, and
    ValueError naming the URI if pyarrow has no filesystem for its
    scheme (e.g. a Hadoop-only `s3a://`)."""
    data_path = os.path.join(out_dir, DATA_DIR)
    if not urlparse(data_path).scheme:
        data_path = os.path.abspath(data_path)
    fs, path = pafs.FileSystem.from_uri(data_path)  # ArrowInvalid is a ValueError
    if fs.get_file_info(path).type != pafs.FileType.Directory:
        raise FileNotFoundError(
            f"snapshot {out_dir!r} has no {DATA_DIR}/ data directory"
        )
    return ds.dataset(
        path, schema=to_arrow_schema(TREE_SCHEMA), format="parquet", filesystem=fs
    )


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(MANIFEST_SCHEMA).json(
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
