"""Structured Streaming parity + watermark semantics.

Parity strategy (SURVEY.md §7.6): the SAME transformation function runs
in batch (DuckDB-oracle-checked) and under readStream; stream output
must equal batch output on identical input.  Late-data drop is asserted
with a two-file source processed one file per micro-batch.
"""

import os
import time

import pytest

from pyspark.sql import functions as F

from firebase_realtime_database_backup_spark.catalog import read_table
from firebase_realtime_database_backup_spark.streaming.windows import (
    burst_alerts,
    daily_active_users,
    dedup_events,
    run_stream_to_memory,
    session_counts,
    sliding_counts,
    stream_events,
    tumbling_counts,
    with_watermark,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """sf0.001 events re-materialized with µs timestamps (the stream
    schema) in a streamable directory."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    read_table(spark, "/root/testdata/sf0.001", "events").coalesce(2).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "transform",
    [tumbling_counts, sliding_counts, session_counts, daily_active_users,
     burst_alerts],
    ids=["tumbling", "sliding", "session", "daily_active", "burst_alerts"],
)
def test_stream_batch_parity(spark, events_dir, transform):
    batch = transform(spark.read.parquet(events_dir))
    name = f"parity_{transform.__name__}"
    q = run_stream_to_memory(transform(stream_events(spark, events_dir)), name)
    q.awaitTermination(120)
    got = spark.table(name)
    assert _sorted_rows(got) == _sorted_rows(batch)


def test_watermark_drops_late_events(spark, tmp_path):
    """An event older than the watermark horizon must not reopen its
    closed window (append mode, one file per micro-batch)."""
    d = str(tmp_path / "late_events")
    os.makedirs(d)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    # batch 1: window 10:00 gets 3 events; 10:20 event advances the
    # watermark to 10:10, closing [10:00, 10:10)
    write_file(
        [(1, t(1), 1, "click", 1.0, "{}"), (2, t(4), 1, "click", 1.0, "{}"),
         (3, t(9), 1, "click", 1.0, "{}"), (4, t(20), 1, "click", 1.0, "{}")]
    )
    stream = spark.readStream.schema(schema).parquet(d)
    agg = (
        with_watermark(stream, "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis(F.col("w.start")).alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 fully processed, watermark 10:10
        # batch 2: a LATE event for the closed 10:00 window + on-time event
        write_file([(5, t(5), 1, "late", 1.0, "{}"), (6, t(30), 1, "click", 1.0, "{}")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.ws: r.n for r in spark.table("late_test").collect()}
    ws_1000 = 1704103200000  # 2024-01-01 10:00 UTC
    assert rows.get(ws_1000) == 3, (
        f"closed 10:00 window must hold only the 3 on-time events, got {rows}"
    )


def test_foreach_batch_parquet_sink(spark, events_dir, tmp_path):
    """foreachBatch: stream micro-batches into a parquet sink; the final
    dataset must equal the batch transformation of the same input (the
    production pattern for sinks Structured Streaming lacks natively)."""
    out = str(tmp_path / "fb_out")

    def write_batch(df, batch_id):
        df.write.mode("append").parquet(out)

    q = (
        tumbling_counts(stream_events(spark, events_dir))
        .writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    batch = tumbling_counts(spark.read.parquet(events_dir))
    assert _sorted_rows(got) == _sorted_rows(batch)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming dropDuplicatesWithinWatermark: a duplicate event_id
    arriving in a later micro-batch (within the watermark horizon) must
    be suppressed; the surviving rows equal the batch dedup of the same
    input."""
    from firebase_realtime_database_backup_spark.streaming.windows import dedup_events

    d = str(tmp_path / "dup_events")
    os.makedirs(d)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    write_file(
        [(1, t(0), 1, "click", 1.0, "{}"), (2, t(1), 1, "view", 1.0, "{}"),
         (3, t(2), 2, "click", 1.0, "{}")]
    )
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        dedup_events(stream)
        .select("event_id", "user_id", "event_type")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_test")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event_id 2 re-delivered (same ts, within watermark) +
        # a fresh id 4 — only id 4 may come through
        write_file([(2, t(1), 1, "view", 1.0, "{}"), (4, t(3), 2, "view", 1.0, "{}")])
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("dedup_test").collect())
    assert got == [(1, 1, "click"), (2, 1, "view"), (3, 2, "click"), (4, 2, "view")]
    # batch twin over the full (duplicated) input agrees
    batch = dedup_events(spark.read.schema(schema).parquet(d)).select(
        "event_id", "user_id", "event_type"
    )
    assert got == sorted(tuple(r) for r in batch.collect())


def test_stream_static_join_parity(spark, events_dir):
    """Stream-static enrichment: a streaming fact joined to a broadcast
    static dimension (the canonical 100 TB streaming-ETL shape — dim
    re-resolved per micro-batch, fact never re-read).  Aggregated
    result must equal the batch run of the same transform."""
    dim = read_table(spark, "/root/testdata/sf0.001", "nation")

    def enrich(df):
        return (
            df.join(F.broadcast(dim), df.user_id % 25 == dim.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
        )

    batch = enrich(spark.read.parquet(events_dir))
    q = run_stream_to_memory(
        enrich(stream_events(spark, events_dir)), "parity_dim_join"
    )
    q.awaitTermination(120)
    got = spark.table("parity_dim_join")
    assert _sorted_rows(got) == _sorted_rows(batch)


def test_stream_dim_join_parity(spark, events_dir):
    """The REGISTERED stream-static form (stream_dim_join /
    dim_enriched_counts): windowed per-segment counts over a streaming
    fact joined to the broadcast customer dimension must equal the
    batch run — the enrich-then-window topology the oracle checks in
    batch mode, proven identical under the streaming engine."""
    from firebase_realtime_database_backup_spark.streaming.windows import (
        dim_enriched_counts,
    )

    dim = read_table(spark, "/root/testdata/sf0.001", "customer")
    batch = dim_enriched_counts(spark.read.parquet(events_dir), dim)
    q = run_stream_to_memory(
        dim_enriched_counts(stream_events(spark, events_dir), dim),
        "parity_dim_enrich",
    )
    q.awaitTermination(120)
    got = spark.table("parity_dim_enrich")
    assert _sorted_rows(got) == _sorted_rows(batch)
    assert batch.count() > 0


def test_stream_stream_join_parity(spark, events_dir):
    """Stream-stream interval join (click↔view attribution): the same
    click_view_pairs transform run over two watermarked streams must
    emit exactly the batch join's pair set.  Append mode — joins emit
    rows as matches become final, no aggregation state involved."""
    from firebase_realtime_database_backup_spark.streaming.windows import (
        click_view_pairs,
    )

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "view"),
        )

    batch = click_view_pairs(*split(spark.read.parquet(events_dir)))
    q = run_stream_to_memory(
        click_view_pairs(*split(stream_events(spark, events_dir))),
        "parity_ss_join",
        mode="append",
    )
    q.awaitTermination(120)
    got = spark.table("parity_ss_join")
    assert _sorted_rows(got) == _sorted_rows(batch)
    assert batch.count() > 0


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpointed restart: stop a file-source stream, add new input,
    restart with the SAME checkpoint — already-processed files must not
    be re-emitted (exactly-once per input row into the sink), the
    recovery contract a 100 TB incremental pipeline leans on."""
    src = str(tmp_path / "src"); os.makedirs(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "id bigint"

    def write_batch(ids, name):
        spark.createDataFrame([(i,) for i in ids], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(range(0, 100), "b1")
    run_once()
    first = spark.read.parquet(sink).count()
    assert first == 100
    write_batch(range(100, 150), "b2")
    run_once()
    rows = [r["id"] for r in spark.read.parquet(sink).collect()]
    assert len(rows) == 150 and len(set(rows)) == 150  # no duplicates, no loss


def test_session_window_ooo_late_stress(spark, tmp_path):
    """Out-of-order-heavy session windows under watermark: events arrive
    shuffled within batches, a closed session must not reopen for a
    too-late event, and on-time out-of-order events must still merge
    into one session (gap 10 min, watermark 10 min, append mode)."""
    import datetime as dt

    d = str(tmp_path / "ooo_events")
    os.makedirs(d)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    ms = lambda h, m: int(t(h, m).replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    agg = session_counts(
        with_watermark(spark.readStream.schema(schema).parquet(d), "10 minutes"),
        gap="10 minutes",
    )
    # batch 1, shuffled order: session A = user1 {10:05, 10:00}; the
    # 10:40 driver event advances the watermark to 10:30 > A's end 10:15
    write_file(
        [(1, t(10, 5), 1, "c", 1.0, "{}"), (2, t(10, 0), 1, "c", 1.0, "{}"),
         (3, t(10, 40), 9, "c", 1.0, "{}")]
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ooo_sessions")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a too-late user1 event (10:02 < watermark 10:30) MUST
        # be dropped; out-of-order on-time events {10:50, 10:45, 10:52}
        # must merge into ONE session B; user2 opens its own; the 11:20
        # driver event pushes the watermark to 11:10, past B's end 11:02
        write_file(
            [(4, t(10, 2), 1, "late", 1.0, "{}"),
             (5, t(10, 50), 1, "c", 1.0, "{}"),
             (6, t(10, 45), 1, "c", 1.0, "{}"),
             (7, t(10, 52), 1, "c", 1.0, "{}"),
             (8, t(10, 48), 2, "c", 1.0, "{}"),
             (9, t(11, 20), 9, "c", 1.0, "{}")]
        )
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r.user_id, r.session_start_ms): r.n_events
        for r in spark.table("ooo_sessions").collect()
    }
    assert rows[(1, ms(10, 0))] == 2, rows     # late 10:02 never joined A
    assert rows[(1, ms(10, 45))] == 3, rows    # ooo on-time merged into B
    assert rows[(2, ms(10, 48))] == 1, rows
    assert rows[(9, ms(10, 40))] == 1, rows
    # the too-late event must not have opened its own session either
    assert (1, ms(10, 2)) not in rows, rows
    assert len([k for k in rows if k[0] == 1]) == 2, rows


def test_dedup_watermark_evicts_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark must EVICT expired ids: three
    batches of 100 fresh ids each, event time advancing 1 h/batch with a
    10-minute watermark — the state store must end holding ~one batch of
    ids, not all 300 (the bound that keeps an unbounded stream from
    accumulating unbounded dedup state)."""
    import datetime as dt

    d = str(tmp_path / "evict_events")
    os.makedirs(d)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"

    def write_batch(base_id, hour):
        rows = [
            (base_id + i, dt.datetime(2024, 1, 1, hour, i % 60), 1, "c", 1.0, "{}")
            for i in range(100)
        ]
        # in-batch duplicates: every id appears twice
        spark.createDataFrame(rows + rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    deduped = dedup_events(
        spark.readStream.schema(schema).parquet(d), "10 minutes"
    ).select("event_id")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("evict_test")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    state_rows = []
    try:
        for batch, hour in ((0, 10), (1, 11), (2, 12)):
            write_batch(batch * 1000, hour)
            q.processAllAvailable()
            prog = q.lastProgress
            ops = prog["stateOperators"] if prog else []
            if ops:
                state_rows.append(ops[0]["numRowsTotal"])
    finally:
        q.stop()

    got = sorted(r.event_id for r in spark.table("evict_test").collect())
    assert len(got) == 300 and len(set(got)) == 300  # dups suppressed
    # eviction: final state must be ~one batch (100 ids + slack), far
    # below the 300 ids ever seen
    assert state_rows, "no state operator progress reported"
    assert state_rows[-1] <= 150, state_rows


def test_dedup_state_survives_restart(spark, tmp_path):
    """Checkpointed state must survive a query RESTART: stop the stream,
    append a batch containing duplicates of already-seen ids, restart
    from the same checkpointLocation — the recovered dedup state has to
    suppress them (a fresh query would re-emit every id).  This is the
    recovery property a production pipeline leans on for exactly-once
    sinks."""
    import datetime as dt

    src = str(tmp_path / "restart_src")
    out = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")
    os.makedirs(src)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"

    def write_ids(ids, minute):
        rows = [
            (i, dt.datetime(2024, 1, 1, 10, minute), 1, "c", 1.0, "{}")
            for i in ids
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start_query():
        stream = dedup_events(
            spark.readStream.schema(schema).parquet(src), "10 minutes"
        ).select("event_id")
        return (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    write_ids(range(0, 50), minute=0)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # duplicates of 0-49 (same watermark window) + fresh 50-99
    write_ids(list(range(0, 50)) + list(range(50, 100)), minute=5)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == list(range(100)), (
        f"expected each id exactly once across restart, got {len(got)} rows"
    )


def test_stream_bot_alerts_to_aimd_writeback_e2e(spark, tree_dataset, tmp_path):
    """The full streaming->restore composition the reference semantics
    imply but no test had composed: a LIVE Structured Streaming run of
    the burst bot alert (readStream + withWatermark, append mode) whose
    foreachBatch sink converts finalized alerts to tree rows and
    replays them through the AIMD writeback path (sinks/writeback.py,
    the src/RestoreProcessor.php:70-106 twin) against the HTTP stub —
    asserting (a) alert rows physically reach the fake Firebase via
    merge-PATCH, and (b) windowed state EVICTS as the watermark
    advances (the stream_watermark_audit sizing applied to itself)."""
    import datetime as dt
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from firebase_realtime_database_backup_spark.sinks.writeback import (
        writeback,
    )
    from firebase_realtime_database_backup_spark.sources.firebase import (
        FakeFirebase,
    )
    from firebase_realtime_database_backup_spark.sources.http_client import (
        HttpFirebase,
    )

    fake = FakeFirebase({})

    class PatchHandler(BaseHTTPRequestHandler):
        def do_PATCH(self):  # noqa: N802 (http.server API)
            import urllib.parse

            parsed = urllib.parse.urlparse(self.path)
            path = urllib.parse.unquote(parsed.path[: -len(".json")]) or "/"
            n = int(self.headers["Content-Length"])
            fake.update(path, _json.loads(self.rfile.read(n)))
            body = b"{}"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), PatchHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"

    d = str(tmp_path / "bot_events")
    os.makedirs(d)
    schema = "user_id bigint, ts timestamp"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    t = lambda h, m, s=0: dt.datetime(2024, 1, 1, h, m, s)  # noqa: E731

    def alert_sink(batch_df, batch_id):
        # finalized alerts -> canonical tree rows -> AIMD merge-PATCH
        # writeback (foreachBatch runs on the driver and the HTTP client
        # targets the in-process stub)
        tree = batch_df.select(
            F.concat(F.lit("/alerts/u"), F.col("user_id")).alias("path"),
            F.col("minute_start_ms").cast("string").alias("key"),
            F.to_json(F.struct("n_events")).alias("value_json"),
            F.lit(2).alias("depth"),
        )
        writeback(tree_dataset(tree), lambda: HttpFirebase(url))

    # batch 1: user 7 bursts (4 events >= threshold 3) at 10:00; a
    # quiet user keeps the group count honest
    write_file(
        [(7, t(10, 0, 5)), (7, t(10, 0, 10)), (7, t(10, 0, 15)),
         (7, t(10, 0, 20)), (1, t(10, 0, 30))]
    )
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        burst_alerts(with_watermark(stream, "10 minutes"))
        .writeStream.outputMode("append")
        .foreachBatch(alert_sink)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: user 8 bursts at 10:30 -> watermark 10:20 closes and
        # EMITS the 10:00 alert
        write_file([(8, t(10, 30, 0)), (8, t(10, 30, 2)), (8, t(10, 30, 4))])
        q.processAllAvailable()
        # batch 3: lone late-hour event -> watermark 11:20 closes 10:30
        write_file([(2, t(11, 30, 0))])
        q.processAllAvailable()
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in (_json.loads(j.json) for j in q.recentProgress)
            if p.get("stateOperators")
        ]
    finally:
        q.stop()
        srv.shutdown()

    ms = lambda h, m: int(dt.datetime(  # noqa: E731
        2024, 1, 1, h, m, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert fake.tree == {
        "alerts": {
            "u7": {str(ms(10, 0)): {"n_events": 4}},
            "u8": {str(ms(10, 30)): {"n_events": 3}},
        }
    }
    # the fake recorded real merge-PATCH calls (the AIMD write path ran)
    assert fake.update_calls
    # state evicted: by the final batch only the still-open windows
    # (the 11:30 minute) may remain — never all 4 observed
    # (user, minute) groups
    assert state_rows, "no stateOperators progress recorded"
    assert state_rows[-1] < 4, state_rows
