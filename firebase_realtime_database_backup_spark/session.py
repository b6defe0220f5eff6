"""SparkSession factory tuned for both local testing and cluster scale.

Every knob here is chosen for the 100 TB deployment story and merely
*scaled down* for local[32] testing:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace the reference's hand-rolled
  adaptive page sizing (src/BackupProcessor.php:171,182-189 — an AIMD
  controller) for everything that lives inside the query engine.
- UTC session timezone: deterministic timestamp semantics across the
  DuckDB oracle, parquet timestamp[ms]/[ns] columns, and executors in
  different system zones.
- Arrow enabled: every pandas_udf / mapInPandas boundary is
  Arrow-batched, never row-at-a-time pickling.
- shuffle.partitions defaults to cores locally; on a real cluster set
  SPARK_GRAFT_SHUFFLE_PARTITIONS ~ 2-3x total executor cores (AQE
  coalesces the excess, so erring high is safe).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_cores() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return 8


def _env_conf() -> dict[str, str]:
    """The SPARK_GRAFT_CONF_JSON overrides; a value that is not a JSON
    object fails with an error naming the variable."""
    env_json = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if not env_json:
        return {}
    import json

    try:
        parsed = json.loads(env_json)
    except ValueError:
        parsed = None
    if not isinstance(parsed, dict):
        raise ValueError(
            "SPARK_GRAFT_CONF_JSON must be a JSON object of Spark conf "
            f"settings, got {env_json!r}"
        )
    return {str(k): str(v) for k, v in parsed.items()}


def get_spark(
    app_name: str = "frdb-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a cluster, ``master`` comes from spark-submit and this factory only
    contributes conf; locally it defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cores = _local_cores()
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cores))
        )

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cores}]")

    conf = {
        # --- adaptivity (replaces the reference's AIMD page sizing for
        # --- everything post-ingest; see SURVEY.md §4) ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.localShuffleReader.enabled": "true",
        # --- shuffle sizing ---
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # 128 MB scan splits: the right grain for 100 TB of parquet.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # --- joins: let small dims broadcast aggressively (region/nation/
        # --- supplier stay tiny at any SF; customer/part do not — those
        # --- are hinted explicitly where appropriate) ---
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        # --- python boundary: always Arrow ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # --- determinism for the oracle loop ---
        "spark.sql.session.timeZone": "UTC",
        # parquet timestamp[ns] (events.ts) reads: truncate to micros
        # identically everywhere.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Spark 4 rejects INT64 TIMESTAMP(NANOS) parquet outright; read
        # nanos as long and let catalog.read_table normalize to a micros
        # timestamp (integer div — double division loses precision at
        # ns-epoch magnitude).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # --- quieter local runs ---
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    # Deployment-specific conf without code changes (used by the
    # round-9 orchestration-tail A/B and by any cluster profile):
    # SPARK_GRAFT_CONF_JSON='{"spark.sql.adaptive...": "..."}' merges
    # after the defaults and before call-site extra_conf.
    conf.update(_env_conf())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Amortized scratch GC: collect dead persisted-table dirs (orphaned
    # tmp publishes, tables whose corpus was rebuilt or whose build
    # parameters changed, dirs without a marker) on session launch — a
    # stat walk riding on the multi-second JVM start.  Never lets
    # cleanup break startup.
    try:
        from .scratch import sweep_scratch

        sweep_scratch()
    except Exception:
        pass
    return spark
