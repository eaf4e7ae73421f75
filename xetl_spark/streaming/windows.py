"""Streaming windowed aggregation + watermark/dedup operators.

Each operator is written against a generic DataFrame so the SAME
function serves batch and streaming inputs — the batch-vs-stream
equivalence tests (tests/test_streaming.py) rely on that: run the
transform once over ``spark.read`` and once over ``spark.readStream``
on identical data and compare results.

Local testing drives finite parquet data through a real streaming
query with a memory sink + ``processAllAvailable()``; on a cluster the
same plans run against Kafka/file sources with checkpointing.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xetl_spark.sources.io import read_parquet

# Streaming sources never infer schemas, so the ts encoding must be
# probed from the files themselves. Current fixtures store events.ts as
# parquet TIMESTAMP(MICROS) (read natively as TimestampType); legacy
# fixtures used TIMESTAMP(NANOS), which Spark reads as raw int64
# (nanosAsLong) that we floor to microseconds — the same truncation
# DuckDB applies on read.
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def _events_ts_is_long(spark: SparkSession, sf_dir: str) -> bool:
    """How ts decodes on this fixture, from events.parquet's schema:
    one footer read on the driver (``sources.io.read_parquet``), no
    Spark job."""
    probe = read_parquet(spark, f"{sf_dir}/events.parquet")
    return dict(probe.dtypes).get("ts") == "bigint"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (explicit schema — streaming
    sources never infer; maxFilesPerTrigger bounds micro-batch size).

    The schema is chosen from events.parquet's footer, so both
    TIMESTAMP(MICROS) and legacy TIMESTAMP(NANOS) fixtures produce an
    identical ``ts timestamp`` column downstream.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanos = _events_ts_is_long(spark, sf_dir)
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA_NANOS if nanos else EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw


def tumbling_window_agg(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window count/sum per event_type with a watermark bound
    on state retention."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            F.unix_micros(F.col("window.end")).alias("win_end_us"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_window_agg(
    events: DataFrame,
    width: str = "2 hours",
    slide: str = "30 minutes",
    watermark: str = "4 hours",
) -> DataFrame:
    """Sliding-window aggregation (each event lands in width/slide
    overlapping windows)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    # sum (not avg) in the hashed output: sums of 2-decimal inputs round
    # safely at 2 decimals, while avg over power-of-two counts lands on
    # exact decimal midpoints where engines' rounding diverges.
    return (
        src.groupBy(F.window("ts", width, slide))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            F.unix_micros(F.col("window.end")).alias("win_end_us"),
            "n",
            "total",
        )
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (end = last event + gap)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("sess_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("sess_end_us"),
            "n_events",
            "total",
        )
    )


def watermarked_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful dedup on event_id bounded by the watermark (streaming)
    or plain dropDuplicates (batch equivalence)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def run_stream_to_memory(
    stream_df: DataFrame,
    mode: str = "complete",
    drain_state: bool = False,
    state_partitions: int | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Drive a (finite-source) streaming DataFrame to completion through
    a memory sink; returns the materialized result as a batch DataFrame.

    ``drain_state=True`` additionally waits for the engine's no-data
    micro-batches to flush watermark-held state: outer joins (and
    event-time timeouts) emit their final rows in a batch AFTER the one
    that advanced the watermark, so stopping at processAllAvailable()
    can strand the last deadline-passed rows in the state store. The
    drain loop polls progress until a no-data batch ran and no further
    rows were produced.

    ``state_partitions`` sizes the stateful operator's state-store
    partitioning, which Spark pins to ``spark.sql.shuffle.partitions``
    AT QUERY START (it is then frozen into the checkpoint for the
    query's lifetime — the one partitioning knob that AQE can never
    re-plan, because stateful workloads disable AQE). State partitions
    should track STATE size (distinct keys × update rate), not the
    batch session's input-sized shuffle width: every state partition
    pays per-micro-batch maintenance (delta file + snapshot I/O) even
    when it holds a handful of keys, so a few-hundred-key windowed agg
    inheriting a 32-wide batch default spends more wall on state
    upkeep than on data (measured here: 32 -> 8 partitions = 1.46s ->
    0.92s per pass over the sf0.1 events table). A production
    deployment sizes this to peak key cardinality before first start.
    The session conf is snapshotted and restored after .start(), which
    is safe because the value is read once at query planning.

    ``state_store`` selects the state-store backend for this query:
    'rocksdb' (RocksDBStateStoreProvider — state lives off-heap on
    local disk with changelog checkpointing, the production choice
    once per-partition state outgrows executor memory; the
    HDFS-backed default holds every key in the JVM heap) or 'hdfs'
    (the default provider, explicit). Like the partition count, the
    provider is pinned at query start and frozen into the checkpoint.

    This is the local test harness path — real deployments use
    writeStream with checkpointLocation to durable sinks.
    """
    spark = stream_df.sparkSession
    name = f"xetl_mem_{uuid.uuid4().hex[:8]}"
    _PROVIDERS = {
        "rocksdb": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "hdfs": (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        ),
    }
    overrides: dict[str, str] = {}
    if state_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(int(state_partitions))
    if state_store is not None:
        if state_store not in _PROVIDERS:
            raise ValueError(
                f"state_store must be one of {sorted(_PROVIDERS)}"
            )
        overrides["spark.sql.streaming.stateStore.providerClass"] = _PROVIDERS[
            state_store
        ]
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    try:
        q.processAllAvailable()
        if drain_state:
            import time

            # rows visible so far; no-data batches may add late flushes
            seen = spark.table(name).count()
            deadline = time.time() + 30
            stable_since = None
            while time.time() < deadline:
                time.sleep(0.5)
                q.processAllAvailable()
                now = spark.table(name).count()
                if now != seen:
                    seen = now
                    stable_since = None
                    continue
                stable_since = stable_since or time.time()
                if time.time() - stable_since >= 2.0:
                    break
    finally:
        q.stop()
    return spark.table(name)
