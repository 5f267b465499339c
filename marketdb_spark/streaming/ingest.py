"""Streaming ingest — the reference's Kestrel consumer loop
(marketdb-app/.../MarketLoader.scala:33-55,76-121: reliable read handles,
buffered(1000), deserialize, validate/enrich, async HBase put, ack) as
Structured Streaming:

  readStream (file source ≙ queue; Kafka drops in with the same code)
    → parse/validate → quarantine split (V1, Trade.scala:52-54)
    → foreachBatch dual-write (main + quarantine), idempotent by key

Delivery semantics: the reference acks after dispatch → at-least-once
with idempotent puts (deterministic row+qualifier, Trade.scala:56-57,
MarketLoader.scala:119). Here: checkpointing gives at-least-once batch
replay, and the sink dedups by the same natural key — plus
`dropDuplicatesWithinWatermark` bounds in-flight dedup state, which the
reference never solved (SURVEY §7 risk register).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from marketdb_spark.sources.store import ORDER_KEY, TRADE_KEY, idempotent_append

TRADES_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("market", T.StringType(), True),
        T.StructField("security", T.StringType(), True),
        T.StructField("trade_id", T.LongType(), True),
        T.StructField("price", T.DecimalType(18, 8), True),
        T.StructField("amount", T.IntegerType(), True),
        T.StructField("time", T.TimestampType(), True),
        T.StructField("nosystem", T.BooleanType(), True),
    ]
)

# OrderPayload (reference marketdb-api/.../model/Payload.scala:19-28):
# nested nullable deal struct ≙ Option[(Long, BigDecimal)]
ORDERS_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("market", T.StringType(), True),
        T.StructField("security", T.StringType(), True),
        T.StructField("order_id", T.LongType(), True),
        T.StructField("time", T.TimestampType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("action", T.ShortType(), True),
        T.StructField("dir", T.ShortType(), True),
        T.StructField("price", T.DecimalType(18, 8), True),
        T.StructField("amount", T.IntegerType(), True),
        T.StructField("amount_rest", T.IntegerType(), True),
        T.StructField(
            "deal",
            T.StructType(
                [
                    T.StructField("id", T.LongType(), True),
                    T.StructField("price", T.DecimalType(18, 8), True),
                ]
            ),
            True,
        ),
    ]
)


def _schema_key(kind: str) -> tuple[T.StructType, list[str]]:
    return (
        (TRADES_EVENT_SCHEMA, TRADE_KEY)
        if kind == "trades"
        else (ORDERS_EVENT_SCHEMA, ORDER_KEY)
    )


def read_trade_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 10,
    watermark: str = "10 minutes",
    dedup_within_watermark: bool = True,
    kind: str = "trades",
) -> DataFrame:
    """File-source stream of JSON-lines trade/order events.
    maxFilesPerTrigger is the batching knob (≙ the reference's
    buffered(1000) read handle, MarketLoader.scala:49). Watermark bounds
    late data AND the dedup state."""
    schema, key = _schema_key(kind)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
        .withWatermark("time", watermark)
    )
    if dedup_within_watermark:
        stream = stream.dropDuplicatesWithinWatermark(key)
    return stream


def parse_event_lines(
    lines: DataFrame,
    kind: str = "trades",
    watermark: str = "10 minutes",
    dedup_within_watermark: bool = True,
) -> DataFrame:
    """Decode a line-oriented transport into typed events — the shared
    wire-format step for every queue-shaped source that delivers one JSON
    document per `value: string` row: the socket source below, a Kafka
    `CAST(value AS STRING)` column, or a text-file spool. Undecodable
    lines become all-NULL rows (from_json semantics — same as the file
    .json() reader's permissive mode) which the downstream validate_split
    quarantines as 'missing market'. Watermark + keyed dedup mirror
    read_trade_stream so every transport feeds the identical V1
    pipeline."""
    schema, key = _schema_key(kind)
    parsed = (
        lines.select(F.from_json(F.col("value"), schema).alias("e"))
        .select("e.*")
        .withWatermark("time", watermark)
    )
    if dedup_within_watermark:
        parsed = parsed.dropDuplicatesWithinWatermark(key)
    return parsed


def read_trade_stream_socket(
    spark: SparkSession,
    host: str,
    port: int,
    kind: str = "trades",
    watermark: str = "10 minutes",
    dedup_within_watermark: bool = True,
) -> DataFrame:
    """TCP-socket stream of ndjson trade/order events — the closest Spark
    analog of the reference's Kestrel consumer (a TCP queue protocol;
    MarketLoader.scala:33-55): connect to a queue host, read framed
    messages, decode, ack. Acks map to checkpointed offsets; the decode/
    validate/dedup path is parse_event_lines, identical to the file and
    Kafka shapes. NOTE Spark's socket source is at-most-once on its own
    (no replay from the server); the reference's reliable-read semantics
    need a replayable transport (file spool or Kafka) — this source
    exists to prove the wire-format path end-to-end over a live TCP
    queue."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return parse_event_lines(lines, kind, watermark, dedup_within_watermark)


def decode_kafka_records(records: DataFrame, kind: str = "trades",
                         watermark: str = "10 minutes",
                         dedup_within_watermark: bool = True) -> DataFrame:
    """Kafka wire-format decode: a Kafka record frame (binary `value`,
    plus key/topic/partition/offset/timestamp columns) → typed validated
    events, via `CAST(value AS STRING)` into the shared
    parse_event_lines path. Factored out of read_trade_stream_kafka so
    the decode contract is testable on a STATIC frame with no broker —
    the transport columns are dropped here because offsets/acks are the
    engine's job (checkpointed Kafka offsets ≙ the reference's Kestrel
    acks, MarketLoader.scala:49-55), not the pipeline's."""
    lines = records.select(F.col("value").cast("string").alias("value"))
    return parse_event_lines(lines, kind, watermark, dedup_within_watermark)


def read_trade_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 10000,
    kind: str = "trades",
    watermark: str = "10 minutes",
    dedup_within_watermark: bool = True,
) -> DataFrame:
    """BROKER transport for the ingest pipeline — the real production
    analog of the reference's Kestrel consumer (MarketLoader.scala:33-55:
    reliable read handle per queue host, buffered(1000), ack after
    dispatch): `format("kafka")` with checkpointed offsets standing in
    for per-message acks, `maxOffsetsPerTrigger` for the buffered(1000)
    admission bound, and the identical decode/validate/dedup path
    (decode_kafka_records → parse_event_lines) as the file, socket and
    spool-queue shapes, so swapping transports changes zero pipeline
    code.

    GATED: the Kafka source lives in the external
    `spark-sql-kafka-0-10` package (publicly documented Structured
    Streaming integration), which this environment does not ship — the
    format lookup failure is re-raised as a clear RuntimeError naming
    the package. The decode contract itself is broker-free and
    unit-tested on a static frame (tests/test_streaming.py)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    try:
        records = reader.load()
    except Exception as exc:
        # rebrand ONLY the missing-package failure; anything else (bad
        # option, broker config, analysis error with the jar present)
        # must surface as itself, not as a misleading classpath hint
        msg = str(exc)
        if "DATA_SOURCE_NOT_FOUND" in msg or (
            "ailed to find" in msg and "kafka" in msg.lower()
        ):
            raise RuntimeError(
                "Kafka source unavailable: the spark-sql-kafka-0-10 "
                "package must be on the classpath (spark.jars.packages="
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)"
            ) from exc
        raise
    return decode_kafka_records(records, kind, watermark, dedup_within_watermark)


def read_trade_stream_queue(
    spark: SparkSession,
    spool_dir: str,
    kind: str = "trades",
    watermark: str = "10 minutes",
    dedup_within_watermark: bool = True,
    distributed: bool = True,
    max_lines_per_trigger: int | None = None,
) -> DataFrame:
    """REPLAYABLE queue stream of ndjson trade/order events — the
    faithful Kestrel-consumer analog (MarketLoader.scala:33-55) with the
    reliable-read semantics the socket source cannot give: the custom
    Python streaming source (streaming/queuesource.py) tracks
    per-segment line offsets through Spark's checkpoint, so a restarted
    query resumes exactly where it acked and any committed batch can be
    replayed bit-identically. Decode/validate/dedup is the shared
    parse_event_lines path, identical to the file/socket/Kafka shapes.

    Default transport is the EXECUTOR-READ partitioned source
    (`spoolqueue_dist`): the driver only lists/stats the spool to plan
    offsets — the reference's "server plans, client executes" scan
    contract (TimeSeriesEnumerator.scala:36-46) — and each segment slice
    is read in parallel by executors, which is the only shape that holds
    when the spool outgrows one machine's read bandwidth.
    `distributed=False` selects the driver-read simple source — same
    offsets, same replay contract, fewer moving parts — for
    control-plane-sized queues."""
    from marketdb_spark.streaming.queuesource import QUEUE_SCHEMA, register_queue_source

    register_queue_source(spark)
    fmt = "spoolqueue_dist" if distributed else "spoolqueue"
    # explicit schema: skips the engine's per-load schema-resolution
    # worker spawn on the Python DataSource lane (~0.1 s per query start)
    reader = spark.readStream.format(fmt).schema(QUEUE_SCHEMA)
    if max_lines_per_trigger is not None:
        # per-trigger admission bound (≙ the reference consumer's
        # buffered(1000), MarketLoader.scala:49,55; Kafka's
        # maxOffsetsPerTrigger): a giant append drains as N bounded
        # micro-batches instead of one unbounded one
        reader = reader.option("maxLinesPerTrigger", max_lines_per_trigger)
    lines = reader.load(spool_dir)
    return parse_event_lines(lines, kind, watermark, dedup_within_watermark)


def validate_split(df: DataFrame, kind: str = "trades") -> DataFrame:
    """Tag each event valid/rejected with a reason (V1 pipeline,
    Trade.scala:52-54 / Order.scala:53-55). Returns one frame with
    `reject_reason` (null = valid) so a single stream feeds the dual
    write."""
    common = F.when(
        F.col("market").isNull() | (F.col("market") == ""), "missing market"
    ).when(
        F.col("security").isNull() | (F.col("security") == ""), "missing security"
    )
    if kind == "trades":
        reason = (
            common.when(F.col("trade_id").isNull(), "missing trade_id")
            .when(F.col("price").isNull() | (F.col("price") <= 0), "bad price")
            .when(F.col("amount").isNull() | (F.col("amount") <= 0), "bad amount")
            .when(F.col("time").isNull(), "missing time")
        )
    else:
        reason = (
            common.when(F.col("order_id").isNull(), "missing order_id")
            .when(F.col("price").isNull() | (F.col("price") <= 0), "bad price")
            .when(F.col("amount").isNull() | (F.col("amount") <= 0), "bad amount")
            .when(
                F.col("amount_rest").isNull() | (F.col("amount_rest") < 0),
                "bad amount_rest",
            )
            .when(~F.col("dir").isin(1, -1), "bad dir")
            .when(F.col("time").isNull(), "missing time")
        )
    return df.withColumn("reject_reason", reason)


def _dual_write_sink(spark: SparkSession, kind: str, store_path: str, quarantine_path: str):
    """foreachBatch body shared by every ingest topology: validate, then
    idempotent-append valid rows to the main store and rejects to
    quarantine — the reference's persisted-vs-Rejected split
    (MarketDB.scala:157-210)."""
    key_cols = TRADE_KEY if kind == "trades" else ORDER_KEY

    def _sink(batch: DataFrame, batch_id: int) -> None:
        tagged = validate_split(batch, kind=kind).cache()
        try:
            valid = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
            # engine-wide quarantine record shape: (reject_reason, source,
            # payload-json) — shared with the batch CSV path so one
            # quarantine store serves every ingest source.
            rejects = tagged.filter(F.col("reject_reason").isNotNull()).select(
                "reject_reason",
                F.lit(f"{kind[:-1]}_stream").alias("source"),
                F.to_json(F.struct(*[c for c in batch.columns])).alias("payload"),
            )
            if valid.limit(1).count():
                idempotent_append(spark, valid, store_path, key_cols)
            if rejects.limit(1).count():
                rejects.write.mode("append").parquet(quarantine_path)
        finally:
            tagged.unpersist()

    return _sink


def start_ingest(
    spark: SparkSession,
    source_path: str,
    store_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    kind: str = "trades",
    **stream_opts,
) -> StreamingQuery:
    """Wire the full ingest: stream → validate → dual-write via
    foreachBatch.

    kind='trades' | 'orders' — the reference's loader consumes both queues
    with the same machinery (MarketLoader.scala:76-121)."""
    stream = read_trade_stream(spark, source_path, kind=kind, **stream_opts)
    return (
        stream.writeStream.foreachBatch(
            _dual_write_sink(spark, kind, store_path, quarantine_path)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def start_socket_ingest(
    spark: SparkSession,
    host: str,
    port: int,
    store_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    kind: str = "trades",
    **stream_opts,
) -> StreamingQuery:
    """Socket-transport ingest wired to the same validate → dual-write
    sink as the file path (MarketLoader.scala:76-121 over a live TCP
    queue). The socket source cannot use availableNow (no bounded offset
    range), so the query runs on the default continuous micro-batch
    trigger; callers stop it when the queue drains."""
    stream = read_trade_stream_socket(spark, host, port, kind=kind, **stream_opts)
    return (
        stream.writeStream.foreachBatch(
            _dual_write_sink(spark, kind, store_path, quarantine_path)
        )
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def start_merged_ingest(
    spark: SparkSession,
    source_paths: list[str],
    store_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    kind: str = "trades",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Multi-host ingest: union N queue sources into ONE streaming query —
    the reference's merged read handle over every Kestrel host
    (marketdb-app/.../MarketLoader.scala:46-55, `ReadHandle.merged`).

    Per-source ack-once comes from Spark's multi-source checkpointing: the
    single checkpoint records one offset entry PER source per batch, so a
    restart resumes each source exactly where it left off. Cross-source
    redelivery (the same message surfacing from two hosts) is handled by
    `dropDuplicatesWithinWatermark` applied AFTER the union — per-source
    dedup would miss it. A `src_host` column carries provenance into the
    store (the reference logs the consuming host the same way)."""
    schema, key = (
        (TRADES_EVENT_SCHEMA, TRADE_KEY)
        if kind == "trades"
        else (ORDERS_EVENT_SCHEMA, ORDER_KEY)
    )
    merged = None
    for i, path in enumerate(source_paths):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .json(path)
            .withColumn("src_host", F.lit(i))
        )
        merged = src if merged is None else merged.unionByName(src)
    # one watermark node after the union (a quiet host must not pin the
    # global watermark — see streaming/asof.py for the MIN-policy trap),
    # then cross-source dedup on the natural key, state bounded by it
    merged = merged.withWatermark("time", watermark)
    merged = merged.dropDuplicatesWithinWatermark(key)
    return (
        merged.writeStream.foreachBatch(
            _dual_write_sink(spark, kind, store_path, quarantine_path)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
