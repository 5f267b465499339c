"""Oracle-checked Structured Streaming queries.

These run a REAL stream — ``readStream`` over the events parquet with an
``availableNow`` trigger, a windowed stateful aggregation, and a memory
sink — and return the sink table. Because the stream is bounded and the
aggregation runs in ``complete`` output mode, the result is exactly the
batch aggregation of the same data, so the standard DuckDB oracle applies:
streaming correctness gets the same hash-compare gate as every batch query
instead of a weaker rows-only check.

This is the Spark analog of the reference's ingestion path feeding its
query path (Kestrel consumer → HBase → scanner,
marketdb-app/.../MarketLoader.scala:33-55 →
marketdb-iteratee/.../TimeSeriesEnumerator.scala:36-46): events flow
through the streaming engine, results land in a continuously-maintained
table. At scale the memory sink becomes a partitioned parquet/Delta store
maintained by foreachBatch (see streaming/windows.start_ohlc_stream) and
the trigger becomes a real micro-batch cadence; the aggregation plan —
stateful partial aggs keyed by (window, group) — is identical.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketdb_spark.functions.exact import dsum
from marketdb_spark.queries.registry import query


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table with the same naive-timestamp
    handling as catalog.load: the file source needs an explicit schema, so
    reuse the batch reader's, then normalize ts to TIMESTAMP (withWatermark
    rejects TIMESTAMP_NTZ event time)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source's path must be a directory (it becomes basePath when
    # the batch for each micro-batch is resolved); select the one table
    # file with pathGlobFilter
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":  # TIMESTAMP(NANOS) generation: ns-long → µs
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":  # TIMESTAMP(MICROS) naive generation
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(agg: DataFrame, prefix: str, spark: SparkSession) -> DataFrame:
    """Drain the bounded stream into a memory-sink table (complete mode) and
    return it. Fresh table name per run — reruns in one session must not
    collide with a prior sink."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "stream_tumbling_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation, end to end through the
    streaming engine: watermarked event-time, hourly windows per event
    type, counts + exact value sums (functions.exact.dsum). complete mode
    on a bounded availableNow stream ⇒ result == batch groupBy(window) ⇒
    hash-checkable against the batch oracle. (In complete mode the
    watermark drops nothing — every window stays addressable — which is
    exactly what makes the comparison exact; append-mode late-data policy
    is covered by tests/test_streaming.py.)"""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6).alias("sum_value"),
        )
    )
    tbl = _run_to_memory(agg, "stream_tumbling", spark)
    return tbl.select(
        F.col("win.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def _run_to_memory_append(out: DataFrame, prefix: str, spark: SparkSession) -> DataFrame:
    """Drain a bounded append-mode stream into a memory sink and return it."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "stream_asof_enrich",
    oracle="""
    WITH trades AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS t_ts,
               event_id AS trade_id, value AS trade_px
        FROM events WHERE event_type = 'purchase'
    ), quotes AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS q_ts, MAX(value) AS quote_px
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, CAST(ts AS TIMESTAMP)
    )
    SELECT t.user_id, t.trade_id, t.t_ts, t.trade_px, q.q_ts, q.quote_px
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND q.q_ts <= t.t_ts
    """,
)
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of join, end to end through the streaming engine:
    'purchase' events are trades, 'view' events are quotes, and each trade
    is enriched with the latest quote at-or-before it per user — computed
    by the watermark-safe stateful operator (streaming/asof.py), NOT a
    batch window. The oracle is DuckDB's native ASOF LEFT JOIN, so the
    held-until-watermark emission protocol is hash-checked exactly.

    Two far-future flush quotes from a side temp source drain the tail:
    the first advances the watermark past every real event, the second
    gives the engine a data batch to emit against it (file sources never
    run a trailing no-data batch under availableNow)."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import time as _time

    from marketdb_spark.catalog import load
    from marketdb_spark.streaming.asof import asof_join_stream_tagged

    # one scan per micro-batch: tag trade/quote roles with a CASE over the
    # single events stream instead of planning two filtered branches
    ev = _events_stream(spark, sf_dir)
    tagged = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("user_id").alias("k"),
        "ts",
        F.when(F.col("event_type") == "purchase", "t").otherwise("q").alias("kind"),
        F.when(F.col("event_type") == "purchase", F.col("event_id"))
        .cast("long")
        .alias("ev_id"),
        F.col("value").cast("double").alias("px"),
    )

    max_ts = load(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    flush_dir = tempfile.mkdtemp(prefix="asof_flush_")
    # scope the stateful operator's partition count (= state-store
    # partitions) for the duration of this query: the per-batch floor is
    # O(partitions) (a Python worker round-trip + a state-store commit per
    # partition per batch), and the key space here is ~150 users — 8
    # partitions keeps every core busy on the heavy batch while quartering
    # the fixed overhead. At real scale, size this to key-count/throughput,
    # not the session default.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        now = _time.time()
        for i, hours in enumerate((1, 2)):
            t = max_ts + dt.timedelta(hours=hours)
            path = os.path.join(flush_dir, f"flush{i}.json")
            with open(path, "w") as f:
                f.write(
                    '{"k": -1, "ts": "%s", "kind": "q", "px": 0.0}\n'
                    % t.strftime("%Y-%m-%dT%H:%M:%S.%f")
                )
            os.utime(path, (now + i,) * 2)
        flush = (
            spark.readStream.schema(
                "k long, ts timestamp, kind string, ev_id long, px double"
            )
            .option("maxFilesPerTrigger", 1)
            .json(flush_dir)
        )

        out = asof_join_stream_tagged(
            tagged.unionByName(flush), watermark="10 minutes", key_out="user_id"
        )
        tbl = _run_to_memory_append(out, "stream_asof", spark)
        return tbl.select(
            "user_id",
            "trade_id",
            F.timestamp_micros(F.col("t_ts_us")).alias("t_ts"),
            "trade_px",
            F.timestamp_micros(F.col("q_ts_us")).alias("q_ts"),
            "quote_px",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(flush_dir, ignore_errors=True)


@query(
    "stream_interval_join",
    oracle="""
    SELECT t.user_id,
           t.event_id AS trade_id,
           o.event_id AS order_id,
           CAST(t.ts AS TIMESTAMP) AS t_ts,
           CAST(o.ts AS TIMESTAMP) AS o_ts
    FROM events t
    JOIN events o
      ON t.user_id = o.user_id
     AND t.event_type = 'purchase' AND o.event_type = 'click'
     AND CAST(o.ts AS TIMESTAMP) <= CAST(t.ts AS TIMESTAMP)
     AND CAST(o.ts AS TIMESTAMP) > CAST(t.ts AS TIMESTAMP) - INTERVAL 2 MINUTE
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE stream-stream event-time interval join (the engine's
    own symmetric-hash join state, not a custom fold): each purchase joins
    the same user's clicks in its trailing 2-minute window; watermarks on
    both sides bound the state. An INNER interval join emits matches as
    soon as both rows are present — the watermark only EVICTS state — so a
    bounded availableNow run drains completely without any flush batches
    (contrast stream_asof_enrich, which must hold trades until the
    watermark passes)."""
    trades = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("t_user"),
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("trade_id"),
        )
        .withWatermark("t_ts", "10 minutes")
    )
    orders = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("o_user"),
            F.col("ts").alias("o_ts"),
            F.col("event_id").alias("order_id"),
        )
        .withWatermark("o_ts", "10 minutes")
    )
    joined = trades.join(
        orders,
        (F.col("t_user") == F.col("o_user"))
        & (F.col("o_ts") <= F.col("t_ts"))
        & (F.col("o_ts") > F.col("t_ts") - F.expr("interval 2 minutes")),
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # see stream_asof_enrich
    try:
        tbl = _run_to_memory_append(joined, "stream_ij", spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return tbl.select(
        F.col("t_user").alias("user_id"),
        "trade_id",
        "order_id",
        "t_ts",
        "o_ts",
    )


@query(
    "stream_session_windows",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), marked AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM (SELECT user_id, ts, value,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM e)
    ), sess AS (
      SELECT *, SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows through the engine's native session_window
    state (gap 30 min per user): sessions merge as events arrive across
    micro-batches. Complete mode on the bounded stream ⇒ equals the batch
    gaps-and-islands sessionization the oracle computes with LAG + running
    SUM — so the streaming session-merge logic is hash-checked exactly
    (window end = last event + gap on both sides)."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6).alias("sum_value"),
        )
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # see stream_asof_enrich
    try:
        tbl = _run_to_memory(agg, "stream_sessions", spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return tbl.select(
        "user_id",
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


@query(
    "stream_dedup_union",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    """,
)
def stream_dedup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming at-least-once dedup through the engine: the events stream
    unioned with ITSELF (every record delivered twice — the redelivery
    topology of a multi-host queue) then dropDuplicatesWithinWatermark on
    the natural key. The oracle is simply the events table: exactly one
    output row per event proves the dedup state works across duplicate
    arrivals while the watermark bounds it. Same operator the merged
    multi-host ingest relies on (streaming/ingest.start_merged_ingest)."""
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    a = _events_stream(spark, sf_dir).select(*cols)
    b = _events_stream(spark, sf_dir).select(*cols)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # see stream_asof_enrich
    try:
        tbl = _run_to_memory_append(deduped, "stream_dedup", spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return tbl


@query(
    "stream_restart_recovery",
    oracle="""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY day, event_type
    """,
)
def stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-recovery equivalence, driver-visible: the stream is
    KILLED mid-data and resumed, and the final result must still equal the
    batch oracle over ALL the data. Incarnation 1 drains half the events
    (event_id % 2 = 0) into a daily windowed aggregation and terminates;
    the other half lands in the source; incarnation 2 restarts from the
    SAME checkpoint and drains the rest. The stored complete-mode result
    covers both halves if and only if the state store recovered the first
    incarnation's partial aggregates — a run that silently restarted from
    scratch (or re-read half 1) fails the hash gate. This is the crash/
    resume contract of the reference's ingest loop (Kestrel reliable reads:
    marketdb-app/.../MarketLoader.scala:33-55) re-expressed as Structured
    Streaming checkpointing.

    The sink is foreachBatch (complete mode) overwriting a parquet store —
    the memory sink deliberately refuses checkpoint recovery, and an
    idempotent overwrite is the replay-safe shape anyway."""
    import shutil
    import tempfile

    from marketdb_spark.catalog import load

    work = tempfile.mkdtemp(prefix="stream_restart_")
    src, ckpt, store = f"{work}/src", f"{work}/ckpt", f"{work}/store"
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # see stream_asof_enrich
    try:
        ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema

        def run_incarnation() -> None:
            agg = (
                spark.readStream.schema(schema)
                .parquet(src)
                .withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    dsum("value", scale=6).alias("sum_value"),
                )
            )

            def _sink(batch: DataFrame, batch_id: int) -> None:
                batch.write.mode("overwrite").parquet(store)

            q = (
                agg.writeStream.foreachBatch(_sink)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_incarnation()  # half the data, then the "crash"
        ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
        run_incarnation()  # resume from the same checkpoint
        out = spark.read.parquet(store).select(
            F.col("win.start").alias("day"), "event_type", "n_events", "sum_value"
        )
        # detach from the temp files so the caller can evaluate lazily
        return out.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_ohlc_bars",
    oracle="""
    WITH ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS bar_start, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
            FROM events) events
    )
    SELECT user_id, bar_start,
           MAX(CASE WHEN rn_open  = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume,
           COUNT(*) AS n_events
    FROM ranked
    GROUP BY user_id, bar_start
    """,
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained OHLC bar table, driven end to end through
    the streaming engine: micro-batches of events flow through
    start_ohlc_stream's foreachBatch (per-batch combinable partials merged
    into the stored table with replay-idempotent batch stamps) and the
    FINAL STORED TABLE is compared against the batch OHLC oracle — the
    continuous-aggregate correctness contract under the driver's hash
    gate, not just the unit suite. maxFilesPerTrigger is irrelevant here
    (one parquet file → one batch); multi-batch merge semantics are pinned
    by tests/test_streaming.py::TestContinuousAggregate."""
    import shutil
    import tempfile

    from marketdb_spark.streaming.windows import start_ohlc_stream

    stream = _events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    work = tempfile.mkdtemp(prefix="ohlc_stream_")
    store, ckpt = f"{work}/bars", f"{work}/ckpt"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # see stream_asof_enrich
    try:
        q = start_ohlc_stream(
            spark, stream, store, ckpt,
            key_cols=["user_id"], time_col="ts", value_col="value",
            id_col="event_id", bar="hour",
        )
        q.awaitTermination()
        bars = spark.read.parquet(store).select(
            "user_id", "bar_start", "open", "high", "low", "close",
            "volume", "n_events",
        )
        # detach from the temp files so the caller can evaluate lazily
        return bars.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment AS mktsegment, c.c_nationkey AS nationkey
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join, end to end through the streaming
    engine: every micro-batch of the event stream joins MAP-SIDE against
    the broadcast customer dim — the in-flight dictionary-enrichment
    pattern of the reference's ingest (uids resolved per event,
    marketdb-app/.../MarketDB.scala:144-150). Append mode: a stream-static
    inner join is stateless (each event matches the static side once, no
    cross-batch state), so the drained sink equals the batch join and the
    standard hash gate applies. At 100 TB the dim broadcasts once per
    query, not per micro-batch, and the stream side never shuffles."""
    from marketdb_spark.catalog import load

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    enriched = (
        _events_stream(spark, sf_dir)
        .select("event_id", "user_id", "event_type", "value")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .drop("c_custkey")
    )
    return _run_to_memory_append(enriched, "stream_static", spark)


@query(
    "stream_sliding_windows",
    oracle="""
    WITH offsets AS (SELECT 0 AS o UNION ALL SELECT 1),
    assigned AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
               - to_hours(o) AS window_start,
             event_type, value
      FROM events CROSS JOIN offsets
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM assigned
    GROUP BY window_start, event_type
    """,
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING-window aggregation (2-hour windows every hour)
    through the engine: each event lands in exactly two overlapping
    windows — the engine's window() assignment explodes per slide, the
    oracle replays it as a cross join with hour offsets {0,1}. complete
    mode on the bounded stream ⇒ result == batch, hash-gated. State is
    (window, type)-keyed partial aggs, 2× the tumbling row count — the
    documented overlap cost of sliding windows at scale."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6).alias("sum_value"),
        )
    )
    tbl = _run_to_memory(agg, "stream_sliding", spark)
    return tbl.select(
        F.col("win.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "stream_snapshot_ingest",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the transactional snapshot table
    (sources/snapshot.snapshot_sink): events split across 3 source files
    stream through 3 micro-batches, each committing one snapshot version
    exactly-once (batch-id dedup), then the final snapshot is aggregated
    — hash-equal to the batch aggregation of all events iff every batch
    committed exactly once (a dropped or doubled commit shifts the
    counts). The version count and an incremental read_changes slice are
    asserted inline; this is the OfferOnce-as-table-metadata contract
    under the driver's gate."""
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.sources.snapshot import (
        latest_version,
        read_changes,
        read_snapshot,
        snapshot_sink,
    )

    work = tempfile.mkdtemp(prefix="stream_snapshot_")
    src, ckpt, table = f"{work}/src", f"{work}/ckpt", f"{work}/table"
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for i in range(3):
            ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(snapshot_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_versions = latest_version(table) + 1
        assert n_versions == 3, f"expected 3 commits, got {n_versions}"
        # incremental consumers see exactly the later batches' rows; the
        # three counts are independent read jobs — overlap them (§2.6)
        from concurrent.futures import ThreadPoolExecutor

        full = read_snapshot(spark, table)
        with ThreadPoolExecutor(max_workers=3) as pool:
            incr_f = pool.submit(
                read_changes(spark, table, from_version=0).count
            )
            full_f = pool.submit(full.count)
            v0_f = pool.submit(read_snapshot(spark, table, 0).count)
            assert incr_f.result() == full_f.result() - v0_f.result()
        out = full.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6).alias("sum_value"),
        )
        # detach from the temp table so the caller can evaluate lazily
        return out.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_stateful_fold",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS value
      FROM events GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ),
    u AS (
      SELECT user_id, ts,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vu
      FROM ev
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_seen,
           CAST(max_by(vu, ts) AS DOUBLE) AS last_value,
           CAST(SUM(vu) AS DOUBLE) AS total
    FROM u GROUP BY user_id
    """,
)
def stream_stateful_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL OPERATOR (applyInPandasWithState running fold,
    streaming/stateful.py — the reference's resumable iteratee,
    MarketIteratees.scala:6-55) under the driver's hash gate: events
    stream through 3 micro-batches into the per-key fold, and each key's
    FINAL state (n_seen, last_value, total) must equal the batch
    aggregation over all events. Values are pre-scaled to exact integer
    micro-units (as doubles < 2^53) before entering the fold, so the
    Python-side float accumulation is exact integer arithmetic and the
    fold's cross-batch order independence (count, integer sum, max-time
    value) is what the hash proves. Timestamps are pre-deduped per
    (user, ts) with MAX so the fold's last-row-by-time is unambiguous.
    State: NoTimeout (bounded availableNow run; production TTL is
    state_timeout=True, covered by tests/test_streaming.py)."""
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.streaming.stateful import running_fold_stream

    prep = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
        .select(
            "user_id",
            "ts",
            (F.col("value").cast("decimal(18,6)") * 1000000)
            .cast("bigint")
            .cast("double")
            .alias("vu"),
        )
    )
    work = tempfile.mkdtemp(prefix="stateful_fold_")
    src = f"{work}/src"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # three micro-batches split by TIME (day-of-month tertiles), so
        # every key's state genuinely accumulates across batches — a
        # key-split would give each key a single trivial batch. prep is
        # materialized once; without it each write re-ran the events
        # scan + dedup shuffle (3x the dominant cost)
        prep = prep.localCheckpoint()
        tertile = F.least(F.floor((F.dayofmonth("ts") - 1) / 10), F.lit(2))
        for i in range(3):
            prep.filter(tertile == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        fold = running_fold_stream(
            stream, ["user_id"], "ts", "vu", state_timeout=False
        )
        tbl = _run_to_memory_append(fold, "stream_stateful", spark)
        # one emission per (key, batch): the final state is the row with
        # the key's max n_seen (strictly increasing across emissions)
        final = F.max(F.struct("n_seen", "last_value", "total"))
        out = tbl.groupBy("user_id").agg(
            final.getField("n_seen").alias("n_seen"),
            final.getField("last_value").alias("last_value"),
            final.getField("total").alias("total"),
        )
        return out.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_delta_ingest",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_delta_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the Delta table via its native
    setTransaction protocol (sources/deltalog.delta_sink): events split
    across 3 source files stream through 3 micro-batches, each commit
    carrying a ``txn`` action; a 4th write REPLAYS batch 0 (simulating
    Structured Streaming's at-least-once redelivery after a restart) and
    must be skipped — asserted inline on the recorded txn version. The
    final Delta snapshot's aggregate is hash-equal to the batch
    aggregation of all events iff every batch committed exactly once.
    Companion to stream_snapshot_ingest: same exactly-once contract,
    expressed in the open Delta protocol so ANY Delta reader observes
    it."""
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.sources.deltalog import (
        delta_sink,
        last_txn_version,
        read_delta,
        write_delta,
    )

    work = tempfile.mkdtemp(prefix="stream_delta_")
    src, ckpt, table = f"{work}/src", f"{work}/ckpt", f"{work}/table"
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for i in range(3):
            ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(delta_sink(table, "ingest"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert last_txn_version(table, "ingest") == 2
        # redeliver batch 0 (restart replay): the txn action dedups it
        replay = write_delta(
            ev.filter(F.col("event_id") % 3 == 0).limit(5),
            table,
            txn_app="ingest",
            txn_version=0,
        )
        assert replay is None, f"replayed batch committed as v{replay}"
        out = read_delta(spark, table).groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", scale=6).alias("sum_value"),
        )
        # detach from the temp table so the caller can evaluate lazily
        return out.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_late_drop_audit",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP))
                AS TIMESTAMP) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
    GROUP BY day, event_type
    """,
)
def stream_late_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DATA SEMANTICS under the hash gate — the one §2B
    streaming behavior previously proven only by unit tests. Batches 0-1
    deliver the on-time half of the corpus (ts ≥ Jan 16), advancing the
    watermark to max(ts) − 1h ≈ Jan 30; batch 2 then delivers the OLD
    half (ts < Jan 16) — every one of its daily windows closed weeks
    below the watermark, so the engine must drop ALL of those rows. The
    oracle aggregates exactly the on-time slice; any late row leaking
    into state (or any on-time row wrongly dropped) shifts the hash.
    The engine's own numRowsDroppedByWatermark metric is asserted equal
    to the late-row count inline — the drop is observed, not assumed.

    The on-time half spans TWO batches because Spark ≥3.4 filters late
    events with the PREVIOUS batch's watermark (the chained-stateful-
    operator fix): a watermark advanced by batch N guards input only
    from batch N+2 on — measured here, not assumed, hence the spare
    batch in between. Batch ORDER matters (unlike the order-insensitive
    ingest queries), so source files get explicit strictly-increasing
    mtimes — the file source schedules by modification time.
    Update-mode sink; final value per window = the max emission (counts
    are monotone). Scale: this is the bounded-state contract that lets
    a 100 TB stream run forever — state is O(windows inside the late
    horizon), and everything older is finalized and dropped on
    arrival."""
    import os
    import shutil
    import tempfile

    from marketdb_spark.catalog import load

    split = "2024-01-16"
    work = tempfile.mkdtemp(prefix="stream_late_")
    src = f"{work}/src"
    os.makedirs(src)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        on_time = F.col("ts") >= F.lit(split).cast("timestamp")
        n_late = ev.filter(~on_time).count()
        for i, pred in enumerate(
            [
                on_time & (F.col("event_id") % 2 == 0),  # on-time, part A
                on_time & (F.col("event_id") % 2 == 1),  # on-time, part B
                ~on_time,  # late — watermark is live by now
            ]
        ):
            stage = f"{work}/stage{i}"
            ev.filter(pred).coalesce(1).write.mode("error").parquet(stage)
            [part] = [
                f for f in os.listdir(stage) if f.endswith(".parquet")
            ]
            dst = os.path.join(src, f"b{i}.parquet")
            os.replace(os.path.join(stage, part), dst)
            # strictly-increasing mtimes pin the batch order
            os.utime(dst, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                dsum("value", scale=6).alias("sum_value"),
            )
        )
        name = f"stream_late_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # the engine must REPORT drops: numRowsDroppedByWatermark counts
        # post-shuffle PARTIAL-AGGREGATE rows reaching the state store
        # (groups × map tasks), not raw input rows — so assert presence,
        # and assert the semantic effect (no pre-split window survived)
        # directly on the sink; the oracle hash then pins exact values.
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        assert n_late > 0 and dropped > 0, (
            f"{n_late} late input rows but engine reported no drops"
        )
        tbl = spark.table(name)
        import datetime as _dt

        min_day = tbl.agg(F.min(F.col("win.start"))).first()[0]
        assert min_day >= _dt.datetime(2024, 1, 16), (
            f"late window {min_day} leaked past the watermark"
        )
        final = F.max(F.struct("n_events", "sum_value"))
        out = tbl.groupBy("win", "event_type").agg(
            final.getField("n_events").alias("n_events"),
            final.getField("sum_value").alias("sum_value"),
        )
        return out.select(
            F.col("win.start").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        ).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_queue_ingest",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(MAX(CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS max_ts
    FROM events
    GROUP BY event_type
    """,
)
def stream_queue_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM PYTHON STREAMING SOURCE under the driver's hash gate:
    events are journaled into an append-only ndjson spool (3 segments,
    written BY SPARK as to_json lines — the queue's journal), then
    consumed back through the EXECUTOR-READ `format("spoolqueue_dist")`
    (streaming/queuesource.py — the driver only stats/plans per-segment
    line offsets, incremental O(new bytes) per trigger; executors read
    the slices in parallel with byte-seek hints; same replayable-range
    contract as the driver-read simple source), JSON-decoded in-stream and
    aggregated in complete mode. The result is hash-equal to the batch
    aggregation of the events table iff the queue delivered every line
    exactly once and the JSON round-trip (double values, µs timestamps)
    was lossless. Restart/replay/partial-line semantics are pinned by
    tests/test_streaming.py::TestSpoolQueueSource."""
    import os
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.streaming.queuesource import QUEUE_SCHEMA, register_queue_source

    register_queue_source(spark)
    work = tempfile.mkdtemp(prefix="stream_queue_")
    spool = f"{work}/spool"
    os.makedirs(spool)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for i in range(3):
            stage = f"{work}/stage{i}"
            (
                ev.filter(F.col("event_id") % 3 == i)
                # timestamps ride as epoch-MICROS ints: to_json's default
                # timestamp format truncates to milliseconds, which the
                # hash gate catches — integer micros round-trip exactly
                .select(
                    F.to_json(
                        F.struct(
                            "event_id",
                            F.unix_micros("ts").alias("ts_us"),
                            "event_type",
                            "value",
                        )
                    )
                )
                .coalesce(1)
                .write.mode("error")
                .text(stage)
            )
            [part] = [f for f in os.listdir(stage) if f.endswith(".txt")]
            os.replace(
                os.path.join(stage, part),
                os.path.join(spool, f"{i:04d}.ndjson"),
            )
        parsed = (
            # explicit schema: skips the engine's per-load schema-
            # resolution worker spawn on the Python DataSource lane
            spark.readStream.format("spoolqueue_dist")
            .schema(QUEUE_SCHEMA)
            .load(spool)
            .select(
                F.from_json(
                    "value",
                    "event_id long, ts_us long, event_type string, value double",
                ).alias("e")
            )
            .select(
                "e.event_id",
                F.timestamp_micros("e.ts_us").alias("ts"),
                "e.event_type",
                "e.value",
            )
        )
        agg = parsed.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6).alias("sum_value"),
            F.max("ts").alias("max_ts"),
        )
        tbl = _run_to_memory(agg, "stream_queue", spark)
        return tbl.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_queue_capped",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def stream_queue_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADMISSION CONTROL under the hash gate: the whole events table is
    journaled as ONE giant spool segment, then consumed through
    `format("spoolqueue_dist")` with ``maxLinesPerTrigger`` set to a
    quarter of the journal — the reference consumer's buffered(1000)
    bound (MarketLoader.scala:49,55) / Kafka's maxOffsetsPerTrigger.
    The engine must drain it as ≥4 bounded micro-batches (committed
    batch count asserted inline) whose UNION is bit-identical to the
    batch aggregate of the raw table — a cap that dropped, duplicated
    or reordered lines across the batch boundaries fails the hash.
    Uses a continuous trigger + processAllAvailable rather than
    availableNow: availableNow snapshots latestOffset ONCE, which
    under a cap is the first batch only — the cap moves the drain
    loop into the engine's trigger cadence, exactly like Kafka.
    Scale: this is the knob that keeps one hot day's backlog from
    becoming a single unbounded micro-batch after downtime."""
    import os
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.streaming.queuesource import QUEUE_SCHEMA, register_queue_source

    register_queue_source(spark)
    work = tempfile.mkdtemp(prefix="stream_queue_cap_")
    spool = f"{work}/spool"
    os.makedirs(spool)
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    n_lines = ev.count()
    cap = max(n_lines // 4, 1)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stage = f"{work}/stage"
        (
            ev.select(
                F.to_json(F.struct("event_id", "event_type", "value"))
            )
            .coalesce(1)
            .write.mode("error")
            .text(stage)
        )
        [part] = [f for f in os.listdir(stage) if f.endswith(".txt")]
        os.replace(
            os.path.join(stage, part), os.path.join(spool, "0001.ndjson")
        )
        parsed = (
            # explicit schema: skips the engine's per-load schema-
            # resolution worker spawn on the Python DataSource lane
            spark.readStream.format("spoolqueue_dist")
            .schema(QUEUE_SCHEMA)
            .option("maxLinesPerTrigger", cap)
            .load(spool)
            .select(
                F.from_json(
                    "value", "event_id long, event_type string, value double"
                ).alias("e")
            )
            .select("e.event_id", "e.event_type", "e.value")
        )
        agg = parsed.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6).alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        name = f"stream_queue_cap_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
        assert n_batches >= 4, f"cap did not split the drain: {n_batches}"
        return spark.table(name).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_delta_source",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_acctbal,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def stream_delta_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA TABLE AS A STREAMING SOURCE under the hash gate
    (streaming/deltasource.py — the read side of the exactly-once loop
    delta_sink writes, no delta jars): customers land in the table
    across two appends, a first availableNow drain consumes the INITIAL
    SNAPSHOT, then a third append + an OPTIMIZE + a fourth append land
    and a second drain (same checkpoint) must tail exactly the two new
    commits — the compaction commit's dataChange:false adds are rewrites
    of already-consumed rows and MUST be skipped, or the union
    double-counts and the hash fails. Result = the aggregate of both
    drains' outputs, hash-equal to the raw customer table iff snapshot +
    tail delivered every row exactly once across checkpointed restarts
    and a compaction. Scale: each micro-batch fans one InputPartition
    per new file (executors read parquet via Arrow batches, zero
    row-at-a-time Python); the snapshot is checkpoint-anchored replay so
    log retention below the stream's start is safe."""
    import os
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.sources.deltalog import optimize_delta, write_delta
    from marketdb_spark.streaming.deltasource import read_delta_stream

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    work = tempfile.mkdtemp(prefix="stream_delta_src_")
    t, out, ckpt = f"{work}/tbl", f"{work}/out", f"{work}/ckpt"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        quarter = F.col("c_custkey") % 4
        write_delta(cust.filter(quarter == 0).coalesce(1), t)
        write_delta(cust.filter(quarter == 1).coalesce(1), t)

        def drain():
            q = (
                read_delta_stream(spark, t)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()  # initial snapshot (versions 0-1)
        n_snap = spark.read.parquet(out).count()
        write_delta(cust.filter(quarter == 2).coalesce(1), t)
        assert optimize_delta(spark, t) is not None  # compaction commit
        write_delta(cust.filter(quarter == 3).coalesce(1), t)
        drain()  # tail: two appends, compaction skipped
        got = spark.read.parquet(out)
        assert got.count() > n_snap
        agg = got.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", scale=6).alias("sum_acctbal"),
            F.max("c_custkey").alias("max_key"),
        )
        return agg.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_delta_capped",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def stream_delta_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADMISSION CONTROL on the Delta streaming source under the hash
    gate (streaming/deltasource.py `maxFilesPerTrigger` — delta-spark's
    option, ≙ the reference consumer's buffered(1000) bound,
    MarketLoader.scala:49,55): the whole orders table lands in a Delta
    table as ONE commit staged across 8 data files, then streams out
    with maxFilesPerTrigger=2 — the engine must drain the INITIAL
    SNAPSHOT as ≥4 bounded micro-batches (committed batch count asserted
    inline) whose union is bit-identical to the batch aggregate of the
    raw table: a cap that dropped, duplicated or reordered files across
    the capped snapshot slices fails the hash. Uses processAllAvailable
    rather than availableNow: availableNow snapshots latestOffset ONCE,
    which under a cap is the first slice only — the cap moves the drain
    loop into the engine's trigger cadence, exactly like Kafka's
    maxOffsetsPerTrigger. Scale: this is the knob that keeps a fresh
    start against a 100 TB table (or a burst of commits after downtime)
    from becoming one unbounded micro-batch."""
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.sources.deltalog import write_delta
    from marketdb_spark.streaming.deltasource import read_delta_stream

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="stream_delta_cap_")
    t = f"{work}/tbl"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        write_delta(orders.repartition(8), t)
        agg = (
            read_delta_stream(spark, t, maxFilesPerTrigger=2)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_orders"),
                dsum("o_totalprice", scale=6).alias("sum_price"),
                F.max("o_orderkey").alias("max_key"),
            )
        )
        name = f"stream_delta_cap_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
        assert n_batches >= 4, f"cap did not split the drain: {n_batches}"
        return spark.table(name).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_delta_changes",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def stream_delta_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPDATE lifecycle through the Delta streaming source with
    ``ignoreChanges`` (delta-spark parity, streaming/deltasource.py),
    under the hash gate: half the orders land as the base table
    (updated_at=1), a first drain consumes the snapshot, then the table
    is OVERWRITTEN with the full corrected state (updated_at=2) — by
    default the mid-stream rewrite RAISES (exactly-once cannot survive
    an overwrite); with ignoreChanges the second drain re-emits the
    rewritten files, delivering the new state AT-LEAST-ONCE exactly as
    delta-spark documents. The downstream is therefore written the way
    every real ignoreChanges consumer must be: LAST-WRITE-WINS dedup per
    key on the data's own version column before aggregating. Result is
    hash-equal to the plain orders aggregate iff (a) the re-emission
    actually happened (duplicate pre-dedup rows for carried-over keys,
    asserted inline) and (b) the dedup resolved every key to the newest
    state. Scale: the dedup is one window over (key) — the standard
    at-least-once-to-exactly-once downstream contract, same shape at
    any volume."""
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from marketdb_spark.catalog import load
    from marketdb_spark.sources.deltalog import write_delta
    from marketdb_spark.streaming.deltasource import read_delta_stream

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="stream_delta_chg_")
    t, out, ckpt = f"{work}/tbl", f"{work}/out", f"{work}/ckpt"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        base = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "updated_at", F.lit(1).cast("long")
        )
        write_delta(base.coalesce(1), t)

        def drain():
            q = (
                read_delta_stream(spark, t, ignoreChanges=True)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()  # initial snapshot: the base half
        n_snap = spark.read.parquet(out).count()
        corrected = orders.withColumn("updated_at", F.lit(2).cast("long"))
        write_delta(corrected.coalesce(1), t, mode="overwrite")
        drain()  # re-emits the overwrite's files (at-least-once)
        got = spark.read.parquet(out)
        assert got.count() > n_snap  # the rewrite really re-emitted
        # carried-over keys arrived twice (old + new state): that's the
        # at-least-once contract the downstream dedup exists to resolve
        dup_keys = (
            got.groupBy("o_orderkey").count().filter(F.col("count") > 1)
        )
        assert dup_keys.limit(1).count() == 1
        rn = F.row_number().over(
            W.partitionBy("o_orderkey").orderBy(F.col("updated_at").desc())
        )
        latest = got.withColumn("rn", rn).filter(F.col("rn") == 1)
        agg = latest.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", scale=6).alias("sum_price"),
            F.max("o_orderkey").alias("max_key"),
        )
        return agg.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_delta_starting",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey % 2 = 1
    GROUP BY o_orderpriority
    """,
)
def stream_delta_starting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-STYLE CONSUMPTION under the hash gate: the Delta streaming
    source's ``startingVersion`` (streaming/deltasource.py, delta-spark
    parity) skips the initial snapshot and tails the log FROM a version.
    Orders land as two appends — the even keys at version 0, the odd
    keys at version 1 — and a stream opened with startingVersion=1 must
    deliver EXACTLY the second commit's rows: hash-equal to the odd-key
    oracle iff version 0 was never snapshotted in and version 1 arrived
    exactly once. Scale: this is how a downstream keeps consuming a
    100 TB table from 'now' (or from a known watermark version) without
    paying the historical snapshot."""
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.sources.deltalog import write_delta
    from marketdb_spark.streaming.deltasource import read_delta_stream

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="stream_delta_start_")
    t, out, ckpt = f"{work}/tbl", f"{work}/out", f"{work}/ckpt"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        write_delta(orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1), t)
        write_delta(orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(1), t)
        q = (
            read_delta_stream(spark, t, startingVersion=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        agg = got.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", scale=6).alias("sum_price"),
            F.max("o_orderkey").alias("max_key"),
        )
        return agg.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


@query(
    "stream_delta_cdf",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
    FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'insert', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice + 1000 AS DECIMAL(18,6))) AS DOUBLE)
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def stream_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Change Data Feed under the hash gate
    (streaming/deltasource.py ``format("deltacdf")`` — delta-spark's
    readChangeFeed stream): orders land in a CDF-enabled Delta table
    (version 0), a replaceWhere backfill rewrites the 1-URGENT
    partition with +1000 prices (version 1, cdc actions staged), then
    the CHANGE FEED streams from ``startingVersion=0`` under
    ``maxFilesPerTrigger=2`` — the engine must drain the history as ≥3
    bounded micro-batches (asserted inline) whose union carries every
    change exactly once with the right attribution: version 0's inserts
    DERIVED from its add actions (pure appends record no cdc files per
    the protocol), version 1's delete/insert pairs consumed from
    exactly its cdc files, _change_type read IN-BAND from the change
    files. Hash-equal to the same oracle as the batch reader
    (store_delta_cdf) — the streaming and batch CDF lanes must agree on
    the same history, which the inline stream-equals-batch equality in
    tests/test_streaming.py::TestDeltaCDFStream pins file-for-file.
    Scale: this is the incremental-consumer entry point (replication,
    downstream ETL) — each trigger reads only the new commits' change
    files, never the table."""
    import shutil
    import tempfile

    from marketdb_spark.catalog import load
    from marketdb_spark.sources.deltalog import write_delta
    from marketdb_spark.streaming.deltasource import read_delta_cdf_stream

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    bad = "1-URGENT"
    work = tempfile.mkdtemp(prefix="stream_cdf_")
    t = f"{work}/tbl"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        write_delta(
            orders, t, partition_by=["o_orderpriority"], enable_cdf=True
        )
        write_delta(
            orders.filter(F.col("o_orderpriority") == bad).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1000
            ),
            t,
            mode="overwrite",
            replace_where={"o_orderpriority": [bad]},
        )
        agg = (
            read_delta_cdf_stream(
                spark, t, startingVersion=0, maxFilesPerTrigger=2
            )
            .groupBy(
                F.col("_commit_version").cast("long").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count("*").alias("n_rows"),
                dsum("o_totalprice", scale=6).alias("sum_price"),
            )
        )
        name = f"stream_cdf_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
        assert n_batches >= 3, f"cap did not split the drain: {n_batches}"
        return spark.table(name).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)
