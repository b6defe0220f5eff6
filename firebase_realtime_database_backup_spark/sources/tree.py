"""The `tree` relation: Spark-native normalization of a Firebase-style
JSON tree (SURVEY.md §1.3).

    tree(path: string, key: string, value_json: string, depth: int)

One row per (parent path, child key) — exactly the unit the reference
pages over REST (src/BackupProcessor.php:150-200).  `value_json` holds
the child's whole subtree as canonical JSON (sorted keys), so a row can
be a scalar leaf or a nested subtree; `flatten_level` peels one level,
`flatten_full` iterates to fixpoint (driver-side loop, executor-side
work — Spark schemas are static, unbounded-depth trees are not, so depth
is unrolled iteratively per SURVEY.md §7.4).

Tree rows cross the driver boundary as Arrow, never as a Python row
list: `tree_table` builds one typed `pyarrow.Table`, which the snapshot
writer writes and `tree_frame` hands the JVM, and the driver-side
writeback reads a tree as a `pyarrow.dataset` (a snapshot's parquet
files, or a frame's `toArrow()`).
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from firebase_realtime_database_backup_spark.catalog import read_table
from firebase_realtime_database_backup_spark.registry import Registry

REG = Registry()

TREE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("key", StringType(), False),
        StructField("value_json", StringType(), False),
        StructField("depth", IntegerType(), False),
    ]
)


#: TREE_SCHEMA as Arrow: the type of a `tree_table`.
_ARROW_TREE_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string(), nullable=False),
        pa.field("key", pa.string(), nullable=False),
        pa.field("value_json", pa.string(), nullable=False),
        pa.field("depth", pa.int32(), nullable=False),
    ]
)


def _encodes(s: str) -> bool:
    try:
        s.encode("utf-8")
    except UnicodeEncodeError:
        return False
    return True


def canonical_json(value: Any) -> str:
    """Deterministic JSON encoding (sorted keys, no whitespace).

    A lone UTF-16 surrogate (JSON "\\ud800") has no UTF-8 form, so a
    value holding one is written with ASCII escapes instead; `json.loads`
    restores it exactly, where storing it raw would fail or be replaced
    by U+FFFD."""
    out = json.dumps(value, sort_keys=True, separators=(",", ":"), ensure_ascii=False)
    if _encodes(out):
        return out
    return json.dumps(value, sort_keys=True, separators=(",", ":"))


def child_path(path: str, key: str) -> str:
    """Append a child key — the reference's `$path.'/'.$childKey`
    (src/BackupProcessor.php:115)."""
    return (path.rstrip("/") or "") + "/" + key


def path_depth(path: str) -> int:
    return 0 if path in ("", "/") else path.rstrip("/").count("/")


def rows_from_dict(d: dict, path: str = "/") -> list[tuple[str, str, str, int]]:
    """Fully-flattened tree rows for a nested dict: one row per node
    (maps included, encoded as their canonical JSON).  Test/reference
    fixture helper — the extractor produces page-grained rows instead."""
    out: list[tuple[str, str, str, int]] = []
    depth = path_depth(path) + 1
    for key in sorted(d):
        value = d[key]
        out.append((path, key, canonical_json(value), depth))
        if isinstance(value, dict) and value:
            out.extend(rows_from_dict(value, child_path(path, key)))
    return out


def tree_table(rows: Sequence[tuple[str, str, str, int]]) -> pa.Table:
    """The (path, key, value_json, depth) rows as one Arrow table typed
    like TREE_SCHEMA: what a snapshot is written from and what
    `tree_frame` hands the JVM.

    A path or key holding a lone UTF-16 surrogate cannot be stored as
    UTF-8 and, unlike a value, cannot be escaped: it raises a
    ValueError naming the path."""
    cols = list(zip(*rows)) or [()] * len(_ARROW_TREE_SCHEMA)
    try:
        arrays = [pa.array(c, f.type) for c, f in zip(cols, _ARROW_TREE_SCHEMA)]
    except UnicodeEncodeError:
        path, key = next(
            (p, k) for p, k, v, _ in rows if not _encodes(p + k + v)
        )
        raise ValueError(
            f"tree row {key!r} at path {path!r} holds a lone UTF-16 "
            "surrogate, which UTF-8 cannot store"
        ) from None
    return pa.Table.from_arrays(arrays, schema=_ARROW_TREE_SCHEMA)


def tree_frame(spark: SparkSession, table: pa.Table) -> DataFrame:
    """The tree DataFrame of a `tree_table`, sent to the JVM as one Arrow
    table rather than as a pickled row list (which costs a Python-side
    schema check per row and a slower first job over the result).  Runs
    no Spark job."""
    return spark.createDataFrame(table, TREE_SCHEMA)


def tree_from_dict(spark: SparkSession, d: dict) -> DataFrame:
    """Materialize a nested dict as a fully-flattened tree DataFrame."""
    return tree_frame(spark, tree_table(rows_from_dict(d)))


def leaves(tree: DataFrame) -> DataFrame:
    """Rows whose value is a JSON scalar or empty container (no children
    of their own).  A leaf-only tree losslessly reconstructs the dict."""
    is_container = F.col("value_json").startswith("{") & (F.col("value_json") != "{}")
    return tree.filter(~is_container)


def subtree(tree: DataFrame, prefix: str) -> DataFrame:
    """All rows under a path prefix (the prefix row itself included)."""
    prefix = prefix.rstrip("/") or "/"
    return tree.filter(
        (F.col("path") == prefix)
        | F.col("path").startswith(prefix + "/")
        | (F.lit(prefix) == "/")
    )


def flatten_level(tree: DataFrame) -> DataFrame:
    """Peel one nesting level: rows with map values explode into their
    children; everything else passes through.  The relational analog of
    the reference's go-deeper descent (src/BackupProcessor.php:114-123),
    as pure Catalyst (from_json + explode) — no Python in the row path."""
    is_map = F.col("value_json").startswith("{") & (F.col("value_json") != "{}")
    passthrough = tree.filter(~is_map)
    exploded = (
        tree.filter(is_map)
        .select(
            F.concat(
                F.when(F.col("path") == "/", "").otherwise(F.col("path")),
                F.lit("/"),
                F.col("key"),
            ).alias("path"),
            F.explode(
                F.from_json(F.col("value_json"), "map<string,string>")
            ).alias("key", "value_json"),
            (F.col("depth") + 1).alias("depth"),
        )
        .select("path", "key", "value_json", "depth")
    )
    return passthrough.unionByName(exploded)


def flatten_full(tree: DataFrame, max_depth: int = 64) -> DataFrame:
    """Iterate flatten_level to fixpoint (bounded driver loop; each
    iteration is one distributed pass)."""
    is_map = F.col("value_json").startswith("{") & (F.col("value_json") != "{}")
    out = tree
    for _ in range(max_depth):
        if out.filter(is_map).limit(1).count() == 0:
            break
        out = flatten_level(out)
    return out


def tree_to_dict(tree: DataFrame) -> dict:
    """Driver-side reassembly of the nested dict (test/roundtrip helper —
    collects; never use on production-scale trees)."""
    root: dict = {}
    rows = [r for r in tree.collect()]
    rows.sort(key=lambda r: (r.depth, r.path, r.key))
    seen_paths = {r.path for r in rows}
    for r in rows:
        node = root
        if r.path not in ("", "/"):
            for seg in r.path.strip("/").split("/"):
                node = node.setdefault(seg, {})
        parsed = json.loads(r.value_json)
        if isinstance(parsed, dict) and child_path(r.path, r.key) in seen_paths:
            # children rows exist; let them fill the subtree
            node.setdefault(r.key, {})
        else:
            node[r.key] = parsed
    return root


# ---------------------------------------------------------------------------
# Registry query: normalize events.props into the tree relation
# ---------------------------------------------------------------------------

@REG.query(
    "tree_normalize_events",
    oracle="""
    SELECT CONCAT('/events/', CAST(event_id AS VARCHAR)) AS path,
           k AS key,
           JSON_EXTRACT_STRING(props, '$.' || k) AS value_json,
           2 AS depth
    FROM events, UNNEST(CAST(JSON_KEYS(props) AS VARCHAR[])) AS t(k)
    WHERE event_id <= 500
    """,
)
def tree_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props JSON objects → tree rows (path, key, value_json,
    depth): the tree-relation normalization applied to a real table.
    Catalyst explode(from_json) — the same op flatten_level uses."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") <= 500)
    return ev.select(
        F.concat(F.lit("/events/"), F.col("event_id").cast("string")).alias("path"),
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "value_json"),
        F.lit(2).alias("depth"),
    )


# --- shared schema-inference machinery (full-scan + sampled twins) -------

#: Columns sniffed by both schema-inference twins.
_INFER_COLS = ("l_quantity", "l_linenumber", "l_returnflag", "l_shipdate")

#: Class ladder (regex type sniff) and promotion rules exist ONCE per
#: engine and are shared by both twins — the prod_twin contract says
#: the sampled and full forms must classify identically on the same
#: rows, which duplicated CASE blocks would silently break on edit.
_CLASSES = (
    ("int", "int"),
    ("float", "float"),
    ("bool", "bool"),
    ("timestamp", "ts"),
    ("string", "string"),
    ("null", "null"),
)

_CLASS_SQL = """CASE
               WHEN s IS NULL THEN 'null'
               WHEN REGEXP_MATCHES(s, '^\\d{4}-\\d{2}-\\d{2}([ T].*)?$') THEN 'timestamp'
               WHEN REGEXP_MATCHES(s, '^-?\\d+$') THEN 'int'
               WHEN REGEXP_MATCHES(s, '^-?\\d+\\.\\d+$') THEN 'float'
               WHEN s IN ('true', 'false') THEN 'bool'
               ELSE 'string'
             END"""

_PROMOTE_SQL = """CASE
             WHEN n_string > 0 THEN 'string'
             WHEN n_ts > 0 AND n_int + n_float + n_bool > 0 THEN 'string'
             WHEN n_ts > 0 THEN 'timestamp'
             WHEN n_float > 0 THEN 'double'
             WHEN n_int > 0 THEN 'bigint'
             WHEN n_bool > 0 THEN 'boolean'
             ELSE 'null'
           END"""


def _long_form_sql(src_rel: str) -> str:
    return " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS s FROM {src_rel}"
        for c in _INFER_COLS
    )


def _counts_sql(count_alias: str) -> str:
    # CAST: DuckDB SUM(int) promotes to HUGEINT, which the driver's
    # pandas canon renders as float64 while Spark stays bigint -> hash
    # mismatch (the text_pack_sequences round-2 failure class).
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN cls = '{c}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{a}"
        for c, a in _CLASSES
    )
    return (
        f"SELECT column_name, COUNT(*) AS {count_alias}, {sums} "
        "FROM classed GROUP BY column_name"
    )


def _classify_col():
    return (
        F.when(F.col("s").isNull(), "null")
        .when(F.col("s").rlike(r"^\d{4}-\d{2}-\d{2}([ T].*)?$"), "timestamp")
        .when(F.col("s").rlike(r"^-?\d+$"), "int")
        .when(F.col("s").rlike(r"^-?\d+\.\d+$"), "float")
        .when(F.col("s").isin("true", "false"), "bool")
        .otherwise("string")
    )


def _promote_col():
    return (
        F.when(F.col("n_string") > 0, "string")
        .when(
            (F.col("n_ts") > 0)
            & (F.col("n_int") + F.col("n_float") + F.col("n_bool") > 0),
            "string",
        )
        .when(F.col("n_ts") > 0, "timestamp")
        .when(F.col("n_float") > 0, "double")
        .when(F.col("n_int") > 0, "bigint")
        .when(F.col("n_bool") > 0, "boolean")
        .otherwise("null")
    )


def _class_counts(rows: DataFrame, count_alias: str) -> DataFrame:
    """stack() unpivot of _INFER_COLS inside the scan stage, classify,
    and reduce to per-column class counts — shared by both twins."""
    stack_expr = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in _INFER_COLS)
    long_form = rows.select(
        F.expr(f"stack({len(_INFER_COLS)}, {stack_expr}) AS (column_name, s)")
    )
    return (
        long_form.select("column_name", _classify_col().alias("cls"))
        .groupBy("column_name")
        .agg(
            F.count(F.lit(1)).alias(count_alias),
            *[
                F.sum((F.col("cls") == c).cast("bigint")).alias(f"n_{a}")
                for c, a in _CLASSES
            ],
        )
    )


@REG.query(
    "ingest_schema_inference",
    prod_twin="ingest_schema_inference_sampled",
    oracle=f"""
    WITH long_form AS ({_long_form_sql("lineitem")}),
    classed AS (
      SELECT column_name, {_CLASS_SQL} AS cls FROM long_form
    ),
    counts AS ({_counts_sql("n_values")})
    SELECT column_name, n_values, n_int, n_float, n_bool, n_ts, n_string, n_null,
           {_PROMOTE_SQL} AS inferred_type
    FROM counts
    """,
)
def ingest_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-style schema inference: classify every string-rendered cell
    of four lineitem columns by regex (timestamp/int/float/bool/string/
    null) and promote to a column type — the generalization of the
    reference's only structural introspection, the shallow=true key
    listing it uses to discover a node's children
    (src/BackupProcessor.php:82-89), from "which keys exist" to "which
    types flow".  This is what spark.read.csv(inferSchema=True) does in
    its sampling pass, spelled as a first-class auditable operator.

    One scan: the four columns unpivot via stack() into (column, value)
    rows inside the scan stage (map-only, like the profiling op), the
    class counts partial-aggregate to |columns| rows, and the promotion
    CASE runs on the aggregate.  At 100 TB you sample first —
    ingest_schema_inference_sampled is that production twin; exact
    counts keep this full-scan oracle meaningful here."""
    counts = _class_counts(read_table(spark, sf_dir, "lineitem"), "n_values")
    return counts.select(
        "column_name",
        "n_values",
        "n_int",
        "n_float",
        "n_bool",
        "n_ts",
        "n_string",
        "n_null",
        _promote_col().alias("inferred_type"),
    )


@REG.query(
    "ingest_schema_inference_sampled",
    oracle=f"""
    WITH sampled AS (
      SELECT * FROM lineitem
      WHERE CAST((((l_orderkey * 7 + l_linenumber) % 2147483648)
                  * 2654435761) % 2147483648 AS BIGINT) % 100 < 10
    ),
    long_form AS ({_long_form_sql("sampled")}),
    classed AS (
      SELECT column_name, {_CLASS_SQL} AS cls FROM long_form
    ),
    counts AS ({_counts_sql("n_sampled")})
    SELECT column_name, n_sampled, {_PROMOTE_SQL} AS inferred_type
    FROM counts
    """,
)
def ingest_schema_inference_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION form of ingest_schema_inference: a deterministic
    Knuth-hash row sample (10%, keyed on the stable (l_orderkey,
    l_linenumber) identity — the sample_deterministic pattern, so both
    engines pick the SAME rows) runs BEFORE the unpivot, so the 4-regex
    classification touches a constant fraction of the corpus instead of
    every cell.  The full-scan twin measured 12x at 20x data
    (BASELINE.md); the sample keeps inference cost proportional to the
    sample rate while type promotion (a max-of-classes decision) is
    insensitive to uniform sampling.  The sampling predicate sits
    directly on the scan, before any projection, so Catalyst fuses
    filter+stack+partial-agg into one stage — at 100 TB this reads
    every row group but classifies 10%, and a parquet-bucketed layout
    could push even the read down to a file subset.

    The row key folds to 31 bits BEFORE the Knuth multiply: orderkeys
    at large SF would otherwise overflow int64 in the multiply and
    fail under ANSI (TPC-H orderkeys reach 6e6·SF — the unreduced form
    breaks around SF 83, far below this op's target scale)."""
    key = F.pmod(
        F.col("l_orderkey") * 7 + F.col("l_linenumber"), F.lit(2147483648)
    )
    sampled = read_table(spark, sf_dir, "lineitem").filter(
        F.pmod(key * F.lit(2654435761), F.lit(2147483648)).cast("bigint") % 100
        < 10
    )
    counts = _class_counts(sampled, "n_sampled")
    return counts.select(
        "column_name", "n_sampled", _promote_col().alias("inferred_type")
    )


@REG.query(
    "tree_subtree_sizes",
    oracle="""
    WITH tree AS (
      SELECT CONCAT('/documents/', CAST(doc_id AS VARCHAR)) AS path,
             k AS key, v AS value_json
      FROM documents,
           LATERAL (VALUES ('text', text), ('lang', lang), ('source', source))
             AS t(k, v)
      WHERE doc_id <= 2000
    )
    SELECT path,
           COUNT(*) AS n_children,
           CAST(SUM(OCTET_LENGTH(ENCODE(value_json)) + OCTET_LENGTH(ENCODE(key)))
                AS BIGINT) AS approx_bytes,
           CAST(SUM(OCTET_LENGTH(ENCODE(value_json)) + OCTET_LENGTH(ENCODE(key)))
                AS BIGINT) > 300 AS go_deeper
    FROM tree
    GROUP BY path
    """,
)
def tree_subtree_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node size rollup over a tree relation (documents rendered as
    /documents/<id> nodes with text/lang/source children): child count,
    approximate serialized bytes, and the go-deeper flag — the
    reference's divide-and-conquer decision (descend when a node
    exceeds the page budget, src/BackupProcessor.php:173-179) computed
    as ONE aggregate over the whole tree instead of discovered
    empirically one failed REST read at a time.  At extraction scale
    this is how the engine plans partition assignments up front:
    over-budget nodes get their own task subtree, the rest batch
    together.  One shuffle on the node key; counts and byte sums ride
    the same partial agg.  The 300-byte budget splits the test corpus
    both ways (node payloads vary 69-573 bytes, median 326)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 2000)
    tree = docs.select(
        F.concat(F.lit("/documents/"), F.col("doc_id").cast("string")).alias(
            "path"
        ),
        F.expr(
            "stack(3, 'text', text, 'lang', lang, 'source', source)"
            " AS (key, value_json)"
        ),
    )
    nbytes = F.octet_length(F.encode("value_json", "utf-8")) + F.octet_length(
        F.encode("key", "utf-8")
    )
    return (
        tree.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            F.sum(nbytes).cast("bigint").alias("approx_bytes"),
        )
        .withColumn("go_deeper", F.col("approx_bytes") > 300)
    )
