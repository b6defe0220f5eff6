"""File-format ingest: JSON-lines with quarantine, plus the ingest-side
analytics queries.

The reference's chunk files are JSON documents spilled to disk
(src/BackupProcessor.php:202-223) and read back on restore
(src/RestoreProcessor.php:62-67) — i.e., its interchange format IS
line-delimited JSON on a filesystem.  `read_jsonl_quarantine` is the
engine-side generalization: schema-on-read ingest that lands directly
in a DataFrame, with the scan parallelized per file split, and
malformed lines routed aside instead of dropped.  Plain JSONL, CSV and
ORC reads are `spark.read` itself.  The module also holds the
tree-relation normalization and sizing (`tree_normalize_events`,
`tree_subtree_sizes`) and schema inference.

Scale notes:
- Always pass an explicit schema in production: `inferSchema`/sampled
  JSON inference is a full extra pass over the data.
- gzip-compressed JSONL/CSV is NOT splittable — one task per file; at
  100 TB keep files ~128 MB-1 GB or use a splittable container
  (parquet) for anything hot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firebase_realtime_database_backup_spark.catalog import read_table
from firebase_realtime_database_backup_spark.memo import session_memo
from firebase_realtime_database_backup_spark.registry import Registry
from firebase_realtime_database_backup_spark.scratch import (
    is_published,
    publish_table,
)

REG = Registry()


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
    headline=False,
)
def tree_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props JSON objects → tree rows (path, key, value_json,
    depth): the tree-relation normalization applied to a real table,
    as one Catalyst explode(from_json)."""
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


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE-mode JSONL ingest that ROUTES malformed lines to a
    quarantine stream instead of dropping (DROPMALFORMED) or aborting
    (FAILFAST) — at 100 TB a handful of corrupt lines per billion must
    neither kill the job nor vanish silently.

    Returns (good, quarantined): `good` carries the declared schema's
    columns for rows that parsed; `quarantined` carries the raw
    offending line (Spark's `_corrupt_record` channel) for replay or
    audit.  Both are one single-pass scan of the input — the split is
    a filter on the corrupt-record column, so Spark reads the files
    once per consumed branch with full pushdown, no pre-pass.

    The declared `schema` must NOT include `_corrupt_record`; it is
    appended here.  Spark requires the parsed result to be cached or
    re-read for `_corrupt_record` filters (SPARK-21610: the column is
    only populated while parsing) — handled via the internal
    `columnNameOfCorruptRecord` + immediate materialization contract
    below."""
    corrupt_col = "_corrupt_record"
    full_schema = f"{schema}, {corrupt_col} STRING"
    parsed = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        # SPARK-21610: referencing only _corrupt_record (or filtering on
        # it) straight off the scan is disallowed/undefined — cache the
        # parsed frame so both branches split from materialized rows
        .cache()
    )
    good = parsed.filter(parsed[corrupt_col].isNull()).drop(corrupt_col)
    quarantined = parsed.filter(parsed[corrupt_col].isNotNull()).select(
        parsed[corrupt_col].alias("raw_line")
    )
    return good, quarantined


#: Deterministic corruption rule for the quarantine fixture: every
#: doc_id divisible by 37 becomes a truncated (invalid) JSON line.
_QUARANTINE_MOD = 37

#: The fixture's line pieces: a good line is `{"doc_id": <id>,
#: "n_chars": <n>}`, a corrupt one stops after `{"doc_id": <id>, "half`.
_QUARANTINE_LINE = ('{"doc_id": ', ', "n_chars": ', "}", ', "half')


@session_memo(valid=is_published)
def _quarantine_fixture(spark: SparkSession, sf_dir: str) -> str:
    """JSONL fixture for ingest_jsonl_quarantine, published once per
    corpus version (kind ``quarantine_jsonl``) — the fixture is a pure
    function of the corpus, so no later query or session pays the
    documents scan + distributed write again."""
    head, mid, tail, cut = _QUARANTINE_LINE

    def build(tmp: str) -> None:
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", F.length("text").alias("n_chars")
        )
        rest = F.when(F.col("doc_id") % _QUARANTINE_MOD == 0, F.lit(cut))
        rest = rest.otherwise(F.concat(F.lit(mid), "n_chars", F.lit(tail)))
        line = F.concat(F.lit(head), "doc_id", rest)
        docs.select(line.alias("value")).write.text(tmp)

    params = (_QUARANTINE_MOD, _QUARANTINE_LINE)
    return publish_table("quarantine_jsonl", sf_dir, ("documents",), build, params)


@REG.query(
    "ingest_jsonl_quarantine",
    oracle=f"""
    WITH lines AS (
      SELECT doc_id, LENGTH(text) AS n_chars,
             doc_id % {_QUARANTINE_MOD} = 0 AS corrupt
      FROM documents
    )
    SELECT CAST(COUNT(*) FILTER (WHERE NOT corrupt) AS BIGINT) AS n_good,
           CAST(COUNT(*) FILTER (WHERE corrupt) AS BIGINT)     AS n_quarantined,
           CAST(SUM(CASE WHEN NOT corrupt THEN doc_id END) AS BIGINT)
                                                               AS good_docid_sum,
           CAST(SUM(CASE WHEN NOT corrupt THEN n_chars END) AS BIGINT)
                                                               AS good_chars_sum
    FROM lines
    """,
)
def ingest_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end drive of :func:`read_jsonl_quarantine` — the malformed
    -line routing path the reference's restore would need if a chunk
    file were truncated mid-write (src/RestoreProcessor.php:62-67 reads
    chunk JSON back with no error channel; this is that error channel).

    A JSONL fixture is generated deterministically from `documents`
    (every doc_id % 37 == 0 line is truncated mid-object, hence invalid
    JSON), written under the repo's scratch dir, and read back through
    the PERMISSIVE + columnNameOfCorruptRecord scan.  The result is the
    audit summary a 100 TB ingest job reports: good/quarantined counts
    plus checksums over the parsed rows.  The oracle predicts the same
    numbers straight from the generation rule, so a line mis-routed in
    EITHER direction (corrupt parsed as good, good quarantined) breaks
    the hash.

    Scale shape: generation is map-only; the read-back is a single
    parallel text scan (PERMISSIVE JSON parse per split) and one
    4-accumulator aggregate — no shuffle wider than the final 1-row
    reduce.  SUMs are cast to BIGINT on the oracle side (HUGEINT canon
    rule)."""
    fixture = _quarantine_fixture(spark, sf_dir)
    good, quarantined = read_jsonl_quarantine(
        spark, fixture, "doc_id BIGINT, n_chars BIGINT"
    )
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("doc_id").alias("good_docid_sum"),
        F.sum("n_chars").alias("good_chars_sum"),
    )
    q = quarantined.agg(F.count(F.lit(1)).alias("n_quarantined"))
    return g.crossJoin(q).select(
        "n_good", "n_quarantined", "good_docid_sum", "good_chars_sum"
    )


#: The two generations' columns: v1 (even doc_ids) lacks n_chars, v2
#: (odd doc_ids) carries it.
_EVOLUTION_V1 = ("doc_id", "lang")
_EVOLUTION_V2 = ("doc_id", "lang", "n_chars")


@session_memo(valid=is_published)
def _evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Two-generation parquet fixture (v1/, v2/) for
    ingest_schema_evolution, published once per corpus version (kind
    ``schema_evolution``)."""

    def build(tmp: str) -> None:
        # Carry the table's own n_chars column (not length(text)): the
        # oracle predicts the audit row from stored columns, and
        # corpora where n_chars deliberately disagrees with
        # length(text) (the edge corpus's unicode rows) must not
        # diverge.
        docs = read_table(spark, sf_dir, "documents")
        docs.filter(F.col("doc_id") % 2 == 0).select(
            *_EVOLUTION_V1
        ).write.parquet(os.path.join(tmp, "v1"))
        docs.filter(F.col("doc_id") % 2 == 1).select(
            *_EVOLUTION_V2
        ).write.parquet(os.path.join(tmp, "v2"))

    params = (_EVOLUTION_V1, _EVOLUTION_V2)
    return publish_table("schema_evolution", sf_dir, ("documents",), build, params)


@REG.query(
    "ingest_schema_evolution",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_v1,
           CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT)
             AS n_v2_with_chars,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
             AS chars_sum_v2,
           CAST(SUM(doc_id) AS BIGINT) AS docid_sum
    FROM documents
    """,
)
def ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest: a lake directory whose older files lack
    a column the newer files carry — the normal state of any 100 TB
    dataset that ever added a field — read back as ONE relation with
    the union schema and NULL backfill for pre-evolution rows.

    Fixture (memoized per session, generated from `documents`): files
    written in generation v1 hold (doc_id, lang) for even doc_ids;
    generation v2 holds (doc_id, lang, n_chars) for odd doc_ids.  The
    mergeSchema read unions the footers; the audit row this query
    returns (row counts per generation, NULL accounting for the
    backfilled column, checksums) is predicted by the oracle straight
    from the generation rule, so a row landing with the wrong schema —
    or a backfilled NULL where data existed — breaks the hash.

    Scale notes: mergeSchema=true footer-merges EVERY file (a real
    cost at millions of files — production pins the evolved schema
    explicitly once known, which also makes the scan plan stable);
    evolution is append-only column ADDITION here, the only kind
    parquet merge supports without a rewrite."""
    fixture = _evolution_fixture(spark, sf_dir)

    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(fixture, "v1"), os.path.join(fixture, "v2")
    )
    # Classify generations by the SAME rule the oracle uses (doc_id
    # parity), not by n_chars NULL-ness: a v2 row whose n_chars is
    # legitimately NULL must still count as v2, and the backfilled-NULL
    # accounting must not absorb it into v1.
    is_v2 = F.col("doc_id") % 2 == 1
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(~is_v2, 1)).alias("n_v1"),
        F.count(F.when(is_v2, 1)).alias("n_v2_with_chars"),
        F.sum(F.when(is_v2, F.col("n_chars"))).alias("chars_sum_v2"),
        F.sum("doc_id").alias("docid_sum"),
    )


#: every event_id % 43 == 0 line is mangled (delimiter scheme broken).
_LOG_CORRUPT_MOD = 43

#: the good-line wire format: evt|<event_id>|u<user_id>|<type>|<cents>.
#: Signed integers (the edge corpus has negative values) and a \w+ type
#: (no delimiter can hide inside a field).
_LOG_RE = r"^evt\|(-?\d+)\|u(-?\d+)\|(\w+)\|(-?\d+)$"

#: The fixture's line formats: a good line, a mangled one (delimiter
#: scheme broken), and the fixed bad line of a row with a NULL field.
_LOG_LINES = ("evt|%d|u%d|%s|%d", "evt#%d#u%d#%s#%d", "evt#malformed")

#: rows the wire format cannot carry (any NULL field, or a type with
#: non-word characters) are corrupt BY DEFINITION — the generator
#: writes a malformed line for them and the oracle's predicate agrees.
_LOG_UNENCODABLE_SQL = (
    "event_id IS NULL OR user_id IS NULL OR value IS NULL OR "
    "event_type IS NULL OR NOT REGEXP_MATCHES(event_type, '^\\w+$')"
)


@session_memo(valid=is_published)
def _log_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Raw-text log fixture for ingest_text_log_parse, published once
    per corpus version (kind ``textlog``)."""
    good_fmt, bad_fmt, bad_null = _LOG_LINES

    def build(tmp: str) -> None:
        fields = ("event_id", "user_id", "event_type", "cents")
        ev = read_table(spark, sf_dir, "events").select(
            *fields[:3], F.floor(F.col("value") * 100).cast("bigint").alias("cents")
        )
        unencodable = ~F.col("event_type").rlike(r"^\w+$")
        for c in fields:
            unencodable = unencodable | F.col(c).isNull()
        # the payload of a corrupt line is irrelevant to the audit, but
        # it must stay ONE physical line: a raw event_type carrying \n
        # or \r would be split by the .text() writer into multiple lines
        # and read-back n_bad would diverge from the oracle's count
        one_line = F.regexp_replace(F.col("event_type"), r"[\r\n]", " ")
        mangled = F.coalesce(
            F.format_string(bad_fmt, "event_id", "user_id", one_line, "cents"),
            F.lit(bad_null),  # NULL fields: a fixed bad line
        )
        corrupt = unencodable | (F.col("event_id") % _LOG_CORRUPT_MOD == 0)
        line = F.when(corrupt, mangled).otherwise(F.format_string(good_fmt, *fields))
        ev.select(line.alias("value")).write.text(tmp)

    return publish_table(
        "textlog", sf_dir, ("events",), build, (_LOG_CORRUPT_MOD, _LOG_LINES)
    )


@REG.query(
    "ingest_text_log_parse",
    oracle=f"""
    WITH lines AS (
      SELECT event_id, user_id, event_type,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents,
             ({_LOG_UNENCODABLE_SQL})
               OR event_id % {_LOG_CORRUPT_MOD} = 0 AS corrupt
      FROM events
    )
    SELECT CAST(COUNT(*) FILTER (WHERE NOT corrupt) AS BIGINT) AS n_good,
           CAST(COUNT(*) FILTER (WHERE corrupt) AS BIGINT) AS n_bad,
           CAST(SUM(CASE WHEN NOT corrupt THEN event_id END) AS BIGINT)
             AS good_id_sum,
           CAST(SUM(CASE WHEN NOT corrupt THEN cents END) AS BIGINT)
             AS good_cents_sum,
           CAST(COUNT(DISTINCT CASE WHEN NOT corrupt THEN event_type END)
                AS BIGINT) AS n_types_seen
    FROM lines
    """,
)
def ingest_text_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-log ingestion: `spark.read.text` + regexp parse — the
    source format the JSONL/CSV/ORC family was missing, and the shape
    of every real clickstream/syslog/access-log feed: untyped lines, a
    wire regex, and a quarantine rule for lines that don't match.

    A log fixture is generated deterministically from `events`
    (format_string per row; every event_id % 43 line gets its
    delimiter scheme mangled, and rows the wire format cannot carry —
    any NULL field, a non-word event_type — are corrupt BY DEFINITION,
    so generator, parser, and oracle agree on adversarial rows too),
    published as plain .text under the repo scratch dir, and
    read back through one parallel text scan + one regexp_extract per
    field; a line is good iff the FULL anchored pattern matches.  The oracle predicts the same audit
    numbers straight from the generation rule — a parse that drops,
    double-counts, or mis-fields any line breaks the hash (the
    ingest_jsonl_quarantine contract, for regex parsing).

    Scale shape: generation is map-only, read-back is map-only, and
    the only aggregate state is five accumulators + a 5-value distinct
    — no shuffle wider than the 1-row reduce.  regexp_extract runs
    JVM-side (no UDF); at 100 TB the text scan splits per file/block
    like any lake scan."""
    fixture = _log_fixture(spark, sf_dir)
    lines = spark.read.text(fixture)
    parsed = lines.select(
        F.regexp_extract("value", _LOG_RE, 1).alias("event_id_s"),
        F.regexp_extract("value", _LOG_RE, 2).alias("user_id_s"),
        F.regexp_extract("value", _LOG_RE, 3).alias("event_type"),
        F.regexp_extract("value", _LOG_RE, 4).alias("cents_s"),
    )
    is_good = F.col("event_id_s") != ""
    return parsed.agg(
        F.count(F.when(is_good, 1)).alias("n_good"),
        F.count(F.when(~is_good, 1)).alias("n_bad"),
        F.sum(F.when(is_good, F.col("event_id_s").cast("bigint"))).alias(
            "good_id_sum"
        ),
        F.sum(F.when(is_good, F.col("cents_s").cast("bigint"))).alias(
            "good_cents_sum"
        ),
        F.count_distinct(
            F.when(is_good, F.col("event_type"))
        ).alias("n_types_seen"),
    )
