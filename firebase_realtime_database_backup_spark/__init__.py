"""PySpark-native analytics engine with the capabilities of
stayapp-corp/firebase-realtime-database-backup, re-expressed Spark-first.

The reference (PHP, ~630 LoC) is a Firebase Realtime Database batch ETL
tool: a paginated key-ordered tree export (src/BackupProcessor.php) and a
batched adaptive writeback import (src/RestoreProcessor.php).  This engine
re-expresses that surface on PySpark DataFrames and adds the full analytics
operator surface (joins/aggs/windows/scalar functions), plus the
large-scale training-data operators (dedup, similarity search, multimodal
columns, text analysis) — all designed for a 1000-executor / 100 TB
deployment even though tests run on local[32].

Layout:
    session.py     SparkSession factory (AQE, UTC, tuned shuffle)
    catalog.py     test-table catalog / parquet readers / spread()
    registry.py    query + DuckDB-oracle registry (driver contract)
    verify.py      local replica of the driver's oracle loop
    api.py         do_backup/do_restore facade + export/import CLI
    operators/     relational, dedup, similarity, text, multimodal
    functions/     scalar function surface (string/date/math/array/json)
    sources/       Firebase AIMD REST extractor and Arrow tree rows (no
                   pyspark import), JSONL/CSV ingest and its queries
    sinks/         snapshot (parquet+manifest), delta chain and AIMD
                   writeback, all on the driver over Arrow
    streaming/     windowed aggregations + applyInPandasWithState
"""

__version__ = "0.1.0"
