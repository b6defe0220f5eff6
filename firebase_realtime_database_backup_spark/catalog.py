"""Catalog for the driver's test tables and snapshot datasets.

The reference has no catalog at all — its only "table discovery" is the
``shallow=true`` child listing (src/BackupProcessor.php:82-89) and the
``metadata.json`` manifest (src/BackupProcessor.php:49-51).  Here, parquet
footers + directory layout are the catalog; this module is a thin typed
veneer.

Every engine parquet read goes through :func:`read_parquet` and carries a
schema.  ``spark.read.parquet(path)`` without one runs a one-task Spark
job (footer schema inference) on EVERY call — at bench scale a query
costs ~0.21 s + 0.076 s per job, so a ten-view SQL query paid ten jobs
that did no work.  The schema Spark inferred once is kept and handed
back on later reads.

That cache is keyed by file CONTENT — abspath, the inference settings,
and a (relpath, size, mtime_ns) fingerprint of the data files — not by
session, like the ``.scratch/`` tables (scratch.py).  A schema is a
property of the bytes on disk, so it is valid for any session that
reads the same files under the same settings, and a rewritten file
forces a fresh inference.  It is therefore not a session memo
(``memo.session_memo``) and ``memo.clear_caches()`` leaves it alone:
there is no lineage or persisted storage to drop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from firebase_realtime_database_backup_spark.scratch import iter_table_files

#: The ten driver-generated tables (TESTDATA.md).  Star schema:
#: lineitem → orders → customer → nation → region; lineitem → part;
#: lineitem → supplier → nation.  `events` is stream-shaped;
#: `documents`/`embeddings` back the LLM-data operators.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_engine_conf(spark: SparkSession) -> None:
    """Set the runtime-settable confs the engine's semantics depend on,
    for sessions NOT built by session.get_spark (e.g. a harness passes
    its own).  Spark 4 rejects INT64 TIMESTAMP(NANOS) parquet unless
    nanosAsLong is on; UTC keeps timestamp rendering deterministic.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — session factory owns it


#: Session settings that change the schema Spark infers from a footer;
#: part of every schema-cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

#: (abspath, inference settings) -> (file fingerprint, inferred schema).
#: One entry per path and settings; a stale fingerprint is overwritten
#: by the next read.  Plain dict operations are atomic under the GIL, so concurrent
#: readers need no lock: a lost race costs one extra inference.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.

    A given ``schema`` is used as is (the sinks know what they wrote).
    Otherwise the schema inferred by the first read of these exact
    files is reused.  Non-local paths (``scheme://``) and paths that
    list no files (globs) have no cheap file fingerprint and fall back
    to Spark's inference."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    if "://" in path:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    files = tuple(iter_table_files(path))
    hit = _SCHEMAS.get(key)
    if files and hit is not None and hit[0] == files:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (files, df.schema)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of one test table.

    Filters and projections applied downstream reach this scan via
    Catalyst pushdown (verify with .explain → PushedFilters/ReadSchema);
    never pre-collect or pre-filter here.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Always: events needs nanosAsLong, and every NTZ-date table
    # (orders/lineitem) needs the UTC session timezone so NTZ→LTZ casts
    # (unix_millis, date filters) are engine-independent on a bare
    # driver-built session.
    ensure_engine_conf(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts written as parquet timestamp[ns], read as raw
        # nanos (spark.sql.legacy.parquet.nanosAsLong).  Normalize to
        # a micros TimestampType with exact integer division — the
        # same truncation DuckDB applies for TIMESTAMP_NS → TIMESTAMP.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Timestamp columns written without UTC adjustment read back as
    # TIMESTAMP_NTZ.  The engine standardizes on TimestampType — the
    # strict-typed time functions (unix_millis, F.window, watermarks)
    # demand it, and mixed NTZ/LTZ unions don't coerce.  With the UTC
    # session timezone the cast is wall-clock-identity, preserving
    # parity with DuckDB's naive TIMESTAMP views.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def spread(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Repartition ONLY when the scan under `df` yields fewer partitions
    than the session's parallelism wants (small/single-file local inputs
    — one 0.6 MB parquet file is one task, serializing CPU-heavy
    downstream work onto one of 32 cores).  On a real cluster a 100 TB
    input already splits into >> cores partitions and this is a no-op,
    so the shuffle it introduces exists only where it pays for itself.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_ratio)):
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the named test tables as temp views for spark.sql() use.
    Callers name exactly the tables their SQL reads: every view is a
    table read, and an unused one is wasted work."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
