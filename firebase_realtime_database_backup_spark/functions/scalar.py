"""Scalar function surface: string / date / math / array / JSON / path.

The reference's entire expression library is three idioms used on
*filenames and URLs*, not data (SURVEY.md S13):
- sanitizer  regexp  `preg_replace('/[^a-zA-Z0-9]+/','-')`
  (src/BackupProcessor.php:227)
- URL parsing via double `explode` (src/BackupProcessor.php:23)
- timestamped default name via `date(DATE_ISO8601)`
  (src/BackupProcessor.php:24)
Those three appear here as first-class column expressions, surrounded by
the full Catalyst scalar surface the analytics engine needs.

Everything is a built-in `pyspark.sql.functions` call — JVM-side,
whole-stage-codegen'd, no Python in the row path.  Math picks are
restricted to IEEE-exact ops (abs/ceil/floor/sqrt/mod/x*x) so Spark and
DuckDB produce bit-identical doubles; libm-backed exp/log/pow are
deliberately excluded from oracle-checked outputs (Java Math vs C libm
may differ in the last ulp).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firebase_realtime_database_backup_spark.catalog import read_table
from firebase_realtime_database_backup_spark.registry import Registry

REG = Registry()


@REG.query(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand)                                  AS brand_upper,
           LOWER(p_type)                                   AS type_lower,
           LENGTH(p_name)                                  AS name_len,
           SUBSTRING(p_type, 1, 5)                         AS type_prefix,
           CONCAT(p_brand, ':', p_type)                    AS brand_type,
           REGEXP_REPLACE(p_name, '[^a-zA-Z0-9]+', '-', 'g') AS sanitized_name,
           REGEXP_EXTRACT(p_type, '^([A-Z]+)', 1)          AS type_head,
           TRIM(CONCAT('  ', p_brand, '  '))               AS trimmed
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface.  sanitized_name is the reference's output-filename
    sanitizer `preg_replace('/[^a-zA-Z0-9]+/','-')`
    (src/BackupProcessor.php:227) promoted to a column expression."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[^a-zA-Z0-9]+", "-").alias("sanitized_name"),
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("trimmed"),
    )


@REG.query(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT)        AS order_year,
           CAST(MONTH(o_orderdate) AS INT)       AS order_month,
           CAST(DAY(o_orderdate) AS INT)         AS order_day,
           CAST(QUARTER(o_orderdate) AS INT)     AS order_quarter,
           STRFTIME(o_orderdate, '%Y-%m')        AS order_ym,
           CAST(DATE_DIFF('day', o_orderdate, TIMESTAMP '2002-01-01') AS BIGINT)
                                                 AS days_to_2002,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    """,
    headline=False,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface.  order_ym mirrors the reference's ISO-8601
    default backup naming, `date(DATE_ISO8601)`
    (src/BackupProcessor.php:24), as a data expression."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_ym"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate"))
        .cast("bigint")
        .alias("days_to_2002"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
    )


@REG.query(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - l_quantity * 1000.0) AS abs_diff,
           CAST(CEIL(l_extendedprice / 1000.0) AS BIGINT)  AS price_ceil_k,
           CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS price_floor_k,
           SQRT(l_quantity)                           AS qty_sqrt,
           l_discount * l_discount                    AS disc_sq,
           CAST(l_orderkey % 7 AS BIGINT)             AS key_mod7,
           GREATEST(l_discount, l_tax)                AS max_rate,
           LEAST(l_discount, l_tax)                   AS min_rate
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
    headline=False,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface over IEEE-exact ops (see module docstring).  Spark
    CEIL/FLOOR return BIGINT but DuckDB's return DOUBLE — the oracle
    casts them so the driver's dtype-sensitive canon matches (caught by
    the round-3 pandas-canon verify rewrite); x*x replaces pow(x,2) to
    stay libm-free."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000.0).alias("abs_diff"),
        F.ceil(F.col("l_extendedprice") / 1000.0).alias("price_ceil_k"),
        F.floor(F.col("l_extendedprice") / 1000.0).alias("price_floor_k"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_discount") * F.col("l_discount")).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@REG.query(
    "scalar_array_funcs",
    oracle="""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' '))                          AS n_tokens,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INT) AS n_unique_tokens,
           LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark')       AS has_spark,
           ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:3], ' ')    AS first3,
           STRING_SPLIT(text, ' ')[1]                            AS first_token,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' ')))[1:5], ',')
                                                                 AS vocab_head
    FROM documents
    """,
    headline=False,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface over tokenized document text: size, distinct,
    membership, slicing, sorting — the building blocks the dedup and
    text-analysis operators compose at scale."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_join(F.slice(F.sort_array(F.array_distinct(toks)), 1, 5), ",").alias(
            "vocab_head"
        ),
    )


@REG.query(
    "json_extract_props",
    oracle="""
    SELECT event_id, event_type,
           TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS prop_k,
           TRY_CAST(JSON_EXTRACT_STRING(props, '$.missing') AS BIGINT) AS prop_missing
    FROM events
    WHERE JSON_EXTRACT_STRING(props, '$.k') IS NOT NULL
    """,
    headline=False,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction over events.props — the typed face of the
    reference's schema-agnostic JSON values (json_decode at
    src/BackupProcessor.php:172).  get_json_object is codegen'd
    JsonPath, no Python.  try_cast, not cast: a non-numeric payload is
    NULL, never an ANSI job abort — ingest boundaries must tolerate
    dirty JSON (TRY_CAST on the DuckDB side is the exact twin)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").try_cast("bigint").alias("prop_k"),
        F.get_json_object("props", "$.missing")
        .try_cast("bigint")
        .alias("prop_missing"),
    ).filter(F.get_json_object("props", "$.k").isNotNull())


@REG.query(
    "json_from_json_struct",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(TRY_CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema → typed struct → aggregate.
    This is the typed-boundary pattern from SURVEY.md §7.4: impose
    StructType only where the shape is known."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("p.k")).alias("sum_k"),
        F.min(F.col("p.k")).alias("min_k"),
        F.max(F.col("p.k")).alias("max_k"),
    )


@REG.query(
    "tree_path_ops",
    oracle="""
    WITH paths AS (
      SELECT event_id,
             CONCAT('/events/', event_type, '/', CAST(user_id AS VARCHAR),
                    '/', CAST(event_id AS VARCHAR)) AS path
      FROM events
    )
    SELECT event_id, path,
           CAST(LEN(STRING_SPLIT(path, '/')) - 1 AS INT)     AS depth,
           REGEXP_REPLACE(path, '/[^/]*$', '')                AS parent,
           STRING_SPLIT(path, '/')[LEN(STRING_SPLIT(path, '/'))] AS leaf_key
    FROM paths
    """,
    headline=False,
)
def tree_path_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path algebra for the tree relation (SURVEY.md §1.3): depth, parent,
    leaf key.  Mirrors the reference's slash-path addressing — descent
    appends '/'+childKey (src/BackupProcessor.php:115) and the project-id
    double-explode URL parse (src/BackupProcessor.php:23)."""
    ev = read_table(spark, sf_dir, "events")
    path = F.concat(
        F.lit("/events/"),
        F.col("event_type"),
        F.lit("/"),
        F.col("user_id").cast("string"),
        F.lit("/"),
        F.col("event_id").cast("string"),
    )
    df = ev.select("event_id", path.alias("path"))
    parts = F.split(F.col("path"), "/")
    return df.select(
        "event_id",
        "path",
        (F.size(parts) - 1).alias("depth"),
        F.regexp_replace("path", "/[^/]*$", "").alias("parent"),
        F.element_at(parts, F.size(parts)).alias("leaf_key"),
    )


@REG.query(
    "url_project_id_parse",
    oracle="""
    WITH urls AS (
      SELECT DISTINCT event_type,
             CONCAT('https://proj-', event_type, '.firebaseio.com') AS url
      FROM events
    )
    SELECT event_type, url,
           STRING_SPLIT(STRING_SPLIT(url, '//')[2], '.')[1] AS project_id
    FROM urls
    """,
    headline=False,
)
def url_project_id_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's project-id-from-URL parse — double explode on
    '//' then '.' (src/BackupProcessor.php:23) — as column expressions
    (element_at is 1-based, matching DuckDB list indexing)."""
    ev = read_table(spark, sf_dir, "events")
    urls = ev.select(
        "event_type",
        F.concat(
            F.lit("https://proj-"), F.col("event_type"), F.lit(".firebaseio.com")
        ).alias("url"),
    ).distinct()
    host = F.element_at(F.split(F.col("url"), "//"), 2)
    return urls.select(
        "event_type",
        "url",
        F.element_at(F.split(host, r"\."), 1).alias("project_id"),
    )


@REG.query(
    "conditional_case_nullif",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 150000 THEN 'high'
                WHEN o_totalprice >= 50000  THEN 'mid'
                ELSE 'low' END                          AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
           CAST(o_totalprice >= 150000 AS BOOLEAN)      AS is_high,
           IF(o_orderpriority = '1-URGENT', 1, 0)       AS urgent_flag
    FROM orders
    """,
    headline=False,
)
def conditional_case_nullif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional surface: CASE WHEN chains, NULLIF/COALESCE, boolean
    casts, IF."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 150000, "high")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
        (F.col("o_totalprice") >= 150000).alias("is_high"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("urgent_flag"),
    )


@REG.query(
    "udf_pandas_scalar",
    oracle="""
    SELECT o_orderkey,
           o_totalprice * 0.07 + LEAST(o_totalprice, 1000.0) AS fee,
           CAST(LENGTH(o_orderpriority) + (o_orderkey % 7) AS BIGINT) AS tag
    FROM orders
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF with a SQL oracle twin: the
    fee arithmetic runs as numpy float64 ops on Arrow batches, which are
    IEEE-754-identical to the JVM/DuckDB expression — proving the Python
    escape hatch is hash-exact, not just approximately right.

    Use built-ins when they exist (10-100x less overhead); this entry
    exists to verify the escape hatch itself."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def fee(price: pd.Series) -> pd.Series:
        return price * 0.07 + price.clip(upper=1000.0)

    @pandas_udf("long")
    def tag(prio: pd.Series, okey: pd.Series) -> pd.Series:
        return prio.str.len().astype("int64") + (okey % 7)

    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        fee(F.col("o_totalprice")).alias("fee"),
        tag(F.col("o_orderpriority"), F.col("o_orderkey")).alias("tag"),
    )


@REG.query(
    "udf_grouped_topn",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer
    ) WHERE rk <= 3
    """,
)
def udf_grouped_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (applyInPandas): per-segment top-3 by
    balance, computed with pandas sort inside each group.  Integer/exact
    outputs keep it hash-comparable to the window-function oracle.  The
    built-in window form is preferred in production (no Python); this
    entry verifies the applyInPandas path — each group arrives as ONE
    pandas DataFrame, so it only scales when groups are bounded
    (segment-sized, not corpus-sized)."""
    customer = read_table(spark, sf_dir, "customer")

    def top3(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).head(3)
        out = out.assign(rk=range(1, len(out) + 1))
        return out[["c_mktsegment", "c_custkey", "c_acctbal", "rk"]]

    return (
        customer.select("c_mktsegment", "c_custkey", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(
            top3,
            "c_mktsegment string, c_custkey bigint, c_acctbal double, rk bigint",
        )
    )


@REG.query(
    "scalar_map_funcs",
    oracle="""
    SELECT o_orderkey,
           ARRAY_TO_STRING(['priority', 'status'], ',') AS ks,
           ARRAY_TO_STRING([o_orderpriority, o_orderstatus], ',') AS vs,
           CAST(2 AS INT) AS n_entries,
           o_orderpriority AS via_lookup
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    headline=False,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: build a map from literals + columns, read it
    back via map_keys / map_values / element_at / size.  Output is
    rendered as comma-JOINED key/value strings: DuckDB's MAP and
    Spark's MapType hash differently at the compare boundary, and raw
    arrays crash the driver's pandas canon (`unhashable type: 'list'`,
    the round-2 text_inverted_index ERR class) — the joined string is
    the canon-safe comparable projection of a map."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    )
    m = F.create_map(
        F.lit("priority"), F.col("o_orderpriority"),
        F.lit("status"), F.col("o_orderstatus"),
    )
    return orders.select(
        "o_orderkey",
        F.array_join(F.map_keys(m), ",").alias("ks"),
        F.array_join(F.map_values(m), ",").alias("vs"),
        F.size(m).alias("n_entries"),
        F.element_at(m, F.lit("priority")).alias("via_lookup"),
    )


@REG.query(
    "scalar_hof_funcs",
    oracle="""
    SELECT doc_id,
           CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                                        x -> LENGTH(x))) AS BIGINT) AS total_chars,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                x -> LENGTH(x) > 4)) AS INT)        AS n_long_tokens,
           LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                           x -> LENGTH(x) > 8)) > 0                 AS has_very_long,
           CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                x -> CASE WHEN LENGTH(x) % 2 = 0 THEN 1 ELSE 0 END)) AS BIGINT)
                                                                    AS n_even_len
    FROM documents
    """,
    headline=False,
)
def scalar_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions over arrays: transform / filter / exists /
    aggregate with lambdas.  These run INTERPRETED (no codegen, no
    subexpression elimination — measured in round 1: a split() inside a
    lambda re-evaluates per element), so hot paths hoist shared
    subexpressions out and prefer flat builtins; this entry pins the
    semantics + oracle parity of the HOF surface itself."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lens = F.transform(toks, lambda x: F.length(x))
    return docs.select(
        "doc_id",
        F.aggregate(lens, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
            "total_chars"
        ),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).alias("n_long_tokens"),
        F.exists(toks, lambda x: F.length(x) > 8).alias("has_very_long"),
        F.aggregate(
            F.transform(
                toks, lambda x: F.when(F.length(x) % 2 == 0, 1).otherwise(0)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_even_len"),
    )


@REG.query(
    "scalar_bitwise_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255                            AS key_and,
           l_orderkey | 4096                           AS key_or,
           XOR(l_orderkey, CAST(l_linenumber AS BIGINT)) AS key_xor,
           l_orderkey << 2                             AS key_shl,
           l_orderkey >> 3                             AS key_shr,
           ~l_orderkey                                 AS key_not,
           CAST(BIT_COUNT(l_orderkey) AS INT)          AS key_popcount
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
    headline=False,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface — integer-exact in any engine (used by the LSH
    band/bucket math elsewhere: packing sign bits, masking band keys).
    All eight ops are codegen'd JVM intrinsics; no shuffle, no UDF."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    key = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        key.bitwiseAND(F.lit(255)).alias("key_and"),
        key.bitwiseOR(F.lit(4096)).alias("key_or"),
        key.bitwiseXOR(F.col("l_linenumber").cast("bigint")).alias("key_xor"),
        F.shiftleft(key, 2).alias("key_shl"),
        F.shiftright(key, 3).alias("key_shr"),
        F.expr("~l_orderkey").alias("key_not"),
        F.bit_count(key).alias("key_popcount"),
    )
