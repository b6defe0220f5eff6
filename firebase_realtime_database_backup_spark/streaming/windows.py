"""Event-time windowed aggregations: tumbling, sliding, session — defined
ONCE as batch-compatible transformations and reused verbatim under
Structured Streaming (`stream_events` + `as_stream`), so batch results
are the oracle for stream results by construction (SURVEY.md §7.6).

The reference has no streaming at all (SURVEY.md §2.B); this is part of
the engine's extension surface mandated by the north star.  Batch mode
is DuckDB-oracle-checked; stream-vs-batch parity is pytest-checked
(tests/test_streaming.py); late-data semantics (watermarks) exist only
in stream mode and are documented, not oracle-checked.

Scale notes (100 TB / unbounded):
- Tumbling/sliding windows are hash aggregations on (window, keys) —
  partial aggregation applies, state size is windows x keys, bounded by
  the watermark horizon in stream mode.
- Session windows are Spark's native session_window (merging state
  store); the batch twin is the classic gaps-and-islands rewrite the
  DuckDB oracle uses.
- Always aggregate with a watermark in production streams — without it
  state grows forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firebase_realtime_database_backup_spark.catalog import read_table
from firebase_realtime_database_backup_spark.operators.relational import (
    BOT_RATE_MAX_PER_MIN,
    oround,
)
from firebase_realtime_database_backup_spark.registry import Registry

REG = Registry()

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


# --- transformations (batch AND streaming) --------------------------------

def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    w = F.window("ts", width)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def burst_alerts(events: DataFrame) -> DataFrame:
    """(user_id, minute_start_ms, n_events): per-user minutes whose
    event count reaches the bot threshold — the STREAMING form of
    events_bot_rate_gate.  The batch gate reduces minutes to a per-user
    max; a stream can't chain two aggregations, and doesn't want to:
    the operational shape is an ALERT per offending (user, minute),
    which is one windowed count + a filter — watermark-evictable state,
    append-mode-safe, and the alert fires while the burst is happening
    instead of at end of day."""
    w = F.window("ts", "1 minute")
    return (
        events.groupBy("user_id", w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= BOT_RATE_MAX_PER_MIN)
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("minute_start_ms"),
            "n_events",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    w = F.window("ts", width, slide)
    return (
        events.groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"), "n_events")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    w = F.session_window("ts", gap)
    return (
        events.groupBy(w.alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
            "total_value",
        )
    )


# --- streaming entry points ----------------------------------------------

def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """readStream over a directory of events parquet (file source — the
    test/local stand-in for Kafka; swap `format` in production)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Late-data horizon: rows later than max(event time) - delay are
    dropped from open aggregations and their state reclaimed."""
    return events.withWatermark("ts", delay)


def dedup_events(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on event_id: dropDuplicatesWithinWatermark
    keeps one state entry per id only until the watermark passes its
    event time — bounded state, unlike plain dropDuplicates whose state
    grows forever on an unbounded stream.  Works identically in batch
    (watermark is a no-op there), so stream==batch parity is testable."""
    if events.isStreaming:
        return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def click_view_pairs(
    clicks: DataFrame, views: DataFrame, lookback: str = "10 minutes"
) -> DataFrame:
    """Stream-stream interval join: each click pairs with the same
    user's views in the trailing `lookback` window (view_ts within
    [click_ts - lookback, click_ts]) — the attribution join every
    clickstream pipeline runs.

    Works identically in batch and streaming.  Under streaming, BOTH
    sides get event-time watermarks; together with the two-sided time
    bound Spark derives a finite state-retention horizon per side, so
    join state is purged as the watermark advances — without the bound
    (or with only one watermark) stream-stream join state grows forever.
    At 100 TB the join shuffles both streams once on user_id; the time
    bound keeps per-key state at O(events per user per lookback)."""
    if clicks.isStreaming:
        clicks = clicks.withWatermark("ts", lookback)
    if views.isStreaming:
        views = views.withWatermark("ts", lookback)
    c = clicks.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    v = views.select(
        F.col("user_id").alias("view_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    return c.join(
        v,
        (F.col("user_id") == F.col("view_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("view_ts") <= F.col("click_ts")),
    ).drop("view_user")


def run_stream_to_memory(
    agg: DataFrame, query_name: str, mode: str = "complete"
):
    """Drive a streaming aggregation into an in-memory table (tests)."""
    return (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )




def daily_active_users(events: DataFrame) -> DataFrame:
    """Distinct users per calendar day: streaming-exact dedup on
    (day, user) followed by a day-grain count.  In streaming mode the
    dropDuplicates carries (day, user) state — bounded by watermark
    eviction on real pipelines (see dedup_events); the count itself is
    an ordinary windowless keyed aggregate."""
    d = events.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).dropDuplicates(["day", "user_id"])
    return d.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))


# --- oracle-checked batch queries ----------------------------------------

@REG.query(
    "stream_window_tumbling",
    oracle=f"""
    SELECT EPOCH_MS(TIME_BUCKET(INTERVAL 10 MINUTE, ts)) AS window_start_ms,
           event_type,
           COUNT(*) AS n_events,
           {oround("SUM(value)")} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event type (batch mode of the
    exact transformation the streaming pipeline runs)."""
    return tumbling_counts(read_table(spark, sf_dir, "events"))


@REG.query(
    "stream_window_sliding",
    oracle="""
    WITH b AS (
      SELECT EPOCH_MS(TIME_BUCKET(INTERVAL 5 MINUTE, ts)) AS tb, ts FROM events
    ),
    assigned AS (
      SELECT w AS window_start_ms
      FROM b, UNNEST([b.tb, b.tb - 300000]) AS u(w)
      WHERE EPOCH_MS(ts) >= w AND EPOCH_MS(ts) < w + 600000
    )
    SELECT window_start_ms, COUNT(*) AS n_events
    FROM assigned
    GROUP BY window_start_ms
    """,
    headline=False,
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 (each event lands in 2 windows;
    the oracle materializes both candidate starts per event)."""
    return sliding_counts(read_table(spark, sf_dir, "events"))


@REG.query(
    "stream_window_session",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                  OR EPOCH_US(ts) - EPOCH_US(prev_ts) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           EPOCH_MS(MIN(ts)) AS session_start_ms,
           COUNT(*) AS n_events,
           {oround("SUM(value)")} AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user.  Spark: native
    session_window (streaming-capable merging state); oracle: the
    gaps-and-islands rewrite — lag + cumulative new-session flags.
    Session semantics: a session extends while consecutive events are
    < gap apart; window.start = first event's time."""
    return session_counts(read_table(spark, sf_dir, "events"))


@REG.query(
    "stream_stream_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
    v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
          FROM events WHERE event_type = 'view')
    SELECT c.user_id, COUNT(*) AS n_pairs,
           MIN(EPOCH_US(click_ts) - EPOCH_US(view_ts)) AS min_lag_us,
           MAX(EPOCH_US(click_ts) - EPOCH_US(view_ts)) AS max_lag_us
    FROM c JOIN v ON c.user_id = v.user_id
      AND v.view_ts >= c.click_ts - INTERVAL 10 MINUTE
      AND v.view_ts <= c.click_ts
    GROUP BY c.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the click↔view attribution interval join
    (click_view_pairs), rolled up per user so the oracle output is
    user-grain.  Lags are exact integer microsecond differences —
    engine-independent, no rounding.  The event_type filters push to
    the shared events scan; the equi part of the condition keeps this
    a hash join with the interval as residual, never a BNL."""
    ev = read_table(spark, sf_dir, "events")
    pairs = click_view_pairs(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
    )
    lag = F.unix_micros("click_ts") - F.unix_micros("view_ts")
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(lag).alias("min_lag_us"),
        F.max(lag).alias("max_lag_us"),
    )

@REG.query(
    "stream_daily_active",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS n_active
    FROM events GROUP BY 1
    """,
)
def stream_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users as the streaming-capable composition
    (dropDuplicates + keyed count) rather than a batch-only
    COUNT(DISTINCT) — the same transformation runs under
    writeStream (parity-pinned in tests/test_streaming.py) where a
    distinct aggregate would not be expressible incrementally.  The
    trailing-window batch cousin is events_sliding_distinct."""
    return daily_active_users(read_table(spark, sf_dir, "events"))



#: Simulated transport-delay ceiling for the watermark audit, seconds.
#: The events table has no arrival timestamp, so the audit derives a
#: deterministic per-event network delay in [0, 2h) from the Knuth
#: hash of event_id — identical integer arithmetic on both engines.
AUDIT_MAX_DELAY_S = 7200


@REG.query(
    "stream_watermark_audit",
    oracle=f"""
    WITH arr AS (
      SELECT event_type,
             EPOCH_MS(ts) AS ems,
             MAX(EPOCH_MS(ts)) OVER (
               PARTITION BY user_id
               ORDER BY EPOCH_MS(ts)
                        + ((event_id % 2147483648) * 2654435761)
                          % 2147483648 % {AUDIT_MAX_DELAY_S} * 1000,
                        event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE ems < hwm - 600000) AS BIGINT)
             AS late_10m,
           CAST(COUNT(*) FILTER (WHERE ems < hwm - 3600000) AS BIGINT)
             AS late_1h,
           CAST(COUNT(*) FILTER (WHERE ems < hwm - 21600000) AS BIGINT)
             AS late_6h
    FROM arr GROUP BY event_type
    """,
)
def stream_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing audit: for each event type, how many events
    would arrive LATE — event time older than the high-water mark of
    everything that arrived before them — beyond a 10-minute / 1-hour /
    6-hour watermark.  This is the batch query you run BEFORE choosing
    `withWatermark()` for the streaming aggregations in this module:
    each column is exactly the row count that watermark would silently
    drop, so the choice becomes a measured completeness/state-size
    trade instead of folklore.

    The events table records event time only, so arrival time is
    simulated as ``ts + delay`` with a deterministic per-event
    transport delay in [0, 2h) from the overflow-safe Knuth hash of
    event_id (functions/hashing.py discipline) — identical integer
    arithmetic both engines, and out-of-order arrival (hence real
    lateness) by construction.  The high-water mark is a per-user
    running MAX over prior arrivals — a PARTITIONED window
    (user-grain, scale-safe; a global-stream hwm would be a
    single-partition window, and per-key watermarking is the more
    conservative audit since the global hwm only advances faster).
    All epoch-seconds integer arithmetic — the EPOCH_MS lesson from
    join_asof_tolerance.  One user-keyed shuffle + a map-side rollup
    to the type grain."""
    from pyspark.sql import Window

    from firebase_realtime_database_backup_spark.functions.hashing import (
        knuth_hash,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ems"),
    )
    arrival = (
        F.col("ems") + knuth_hash(F.col("event_id")) % AUDIT_MAX_DELAY_S * 1000
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(arrival, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = ev.select("event_type", "ems", F.max("ems").over(w).alias("hwm"))

    def late(ms: int):
        return F.count(
            F.when(F.col("ems") < F.col("hwm") - ms, 1)
        ).cast("bigint")

    return arr.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        late(600000).alias("late_10m"),
        late(3600000).alias("late_1h"),
        late(21600000).alias("late_6h"),
    )


#: (label, upper bound ms) — session-gap histogram buckets, shared by
#: both engines as literals so the CASE ladders are identical.
GAP_BUCKETS_MS = (
    ("a_under_1m", 60_000),
    ("b_1m_5m", 300_000),
    ("c_5m_30m", 1_800_000),
    ("d_30m_2h", 7_200_000),
    ("e_2h_1d", 86_400_000),
)
GAP_LAST = "f_over_1d"


def _gap_case_sql() -> str:
    parts = [
        f"WHEN gap_ms < {ub} THEN '{lbl}'" for lbl, ub in GAP_BUCKETS_MS
    ]
    return "CASE " + " ".join(parts) + f" ELSE '{GAP_LAST}' END"


@REG.query(
    "events_session_gap_histogram",
    oracle=f"""
    WITH gaps AS (
      SELECT EPOCH_MS(ts) - LAG(EPOCH_MS(ts)) OVER (
               PARTITION BY user_id ORDER BY EPOCH_MS(ts), event_id)
             AS gap_ms
      FROM events
    )
    SELECT {_gap_case_sql()} AS gap_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM gaps WHERE gap_ms IS NOT NULL
    GROUP BY 1
    """,
)
def events_session_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user inter-event gaps — the histogram that
    SIZES the session-window timeout (session_counts' 30-minute gap
    and the sessionize operator's threshold): the right timeout sits in
    the histogram's valley between intra-session and between-session
    gaps, and this query makes that valley visible instead of assumed.
    The same evidence sizes stream-stream join lookbacks and state
    eviction horizons.

    One user-keyed shuffle for the LAG window (user grain — scale-safe,
    same discipline as stream_watermark_audit), then a map-side CASE
    ladder and a 6-row rollup.  Millisecond integer arithmetic on both
    engines; bucket labels are shared literals so the ladders cannot
    drift."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis("ts").alias("ems")
    )
    w = Window.partitionBy("user_id").orderBy("ems", "event_id")
    gaps = ev.select(
        (F.col("ems") - F.lag("ems").over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())
    expr = None
    for lbl, ub in GAP_BUCKETS_MS:
        cond = F.col("gap_ms") < ub
        expr = F.when(cond, lbl) if expr is None else expr.when(cond, lbl)
    expr = expr.otherwise(GAP_LAST)
    return gaps.groupBy(expr.alias("gap_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps")
    )


@REG.query(
    "stream_bot_alerts",
    oracle=f"""
    SELECT user_id,
           EPOCH_MS(TIME_BUCKET(INTERVAL 1 MINUTE, ts)) AS minute_start_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2
    HAVING COUNT(*) >= {BOT_RATE_MAX_PER_MIN}
    """,
)
def stream_bot_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mode of the streaming burst alert (burst_alerts): one
    alert row per (user, minute) at or over the bot rate threshold —
    the streaming-operational complement of events_bot_rate_gate's
    per-user summary.  Stream-vs-batch parity is pinned in
    tests/test_streaming.py; in production the stream carries
    withWatermark so the per-minute state evicts (the
    stream_watermark_audit sizing question applies directly)."""
    return burst_alerts(read_table(spark, sf_dir, "events"))


def dim_enriched_counts(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: events joined to a SLOW dimension
    (user profile / account tier — here the customer table keyed by
    user_id) then windowed per dimension attribute.  The join is
    stateless under streaming — the static side is just re-read (and
    broadcast) per micro-batch, no watermark, no join state — which is
    why enrich-then-aggregate is THE standard streaming topology, and
    why the dimension belongs on the static side: a stream-stream join
    here would buy per-key state for a table that changes daily."""
    enriched = events.join(
        F.broadcast(dim.select(F.col("c_custkey").alias("user_id"),
                               F.col("c_mktsegment").alias("segment"))),
        "user_id",
    )
    w = F.window("ts", "10 minutes")
    return (
        enriched.groupBy(w.alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "segment",
            "n_events",
            "total_value",
        )
    )


@REG.query(
    "stream_dim_join",
    oracle=f"""
    SELECT EPOCH_MS(TIME_BUCKET(INTERVAL 10 MINUTE, e.ts))
             AS window_start_ms,
           c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oround("SUM(e.value)")} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mode of the stream-static dimension join
    (dim_enriched_counts): per-10-minute event volume and value by
    customer market segment — the enrich-then-window topology every
    streaming pipeline runs between ingest and its first aggregate
    (tag each event with the dimension attributes, THEN reduce).

    The scale design decision is which side is static: joining the
    stream to the broadcast dimension costs zero streaming state (the
    static side reloads per micro-batch, so dimension updates flow in
    for free at micro-batch granularity), where the stream-stream
    formulation of the same join (click_view_pairs) buys watermarked
    per-key buffers it doesn't need for slowly-changing reference
    data.  Under batch the identical plan is a broadcast hash join
    into a windowed partial agg — one shuffle at the (window, segment)
    grain.  Stream-vs-batch parity pinned in tests/test_streaming.py;
    a point-in-time-correct variant composes join_scd2_pointintime's
    tagged-union asof in place of the plain equi join."""
    return dim_enriched_counts(
        read_table(spark, sf_dir, "events"),
        read_table(spark, sf_dir, "customer"),
    )
