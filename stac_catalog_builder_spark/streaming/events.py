"""Structured Streaming: windowed event rollups with watermarks.

The reference is batch-only; its streaming-shaped mechanics are time-slot
partitioned ingestion + resumable slices (stacbuilder/terracatalog.py:432-551).
This module is the real streaming form: file-source -> watermark -> tumbling
window -> sink. It holds the one file-stream reader and the one memory-sink
runner; the one exactly-once foreachBatch sink into the SnapshotStore is
streaming/extents.run_increment_maintenance (streaming checkpoint == the
reference's slice/resume semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_file_stream(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """The one file-source stream: a directory of parquet files, one file
    per micro-batch so every file is its own epoch (in production: Kafka)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def run_to_memory(
    spark: SparkSession, df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """The one memory-sink runner: start, drain, stop, return the table —
    the pattern for deterministic streaming tests. The query runs on
    Spark's temporary checkpoint, so the same ``query_name`` can be run
    again."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def windowed_rollup(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window rollup with late-data watermark: the streaming twin of
    plans/relational.events_hourly (same aggregate set)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000.0 + 0.5).cast("bigint")).alias(
                "sum_value_x1000"
            ),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "sum_value_x1000",
        )
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation (gap-based, merging as events arrive) —
    the streaming twin of plans/relational.sessionize's lag+cumsum batch
    form. Works identically over a batch DataFrame (used by the parity
    test) and a stream (watermark finalizes sessions once no event can
    extend them)."""
    base = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        base.groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000.0 + 0.5).cast("bigint")).alias(
                "sum_value_x1000"
            ),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("win.start")).alias("session_start_s"),
            "n_events",
            "sum_value_x1000",
        )
    )


def interval_join(purchases: DataFrame, signups: DataFrame) -> DataFrame:
    """Stream-stream (or batch-batch: same expression) interval inner join:
    each purchase joins the same user's signups from the preceding hour.
    In streaming, the watermarks bound both sides' join state — Spark evicts
    buffered rows once no future match is possible."""
    p = purchases.select(
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    s = signups.select(
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("s_ts"),
        F.col("event_id").alias("signup_id"),
    )
    if p.isStreaming:
        p = p.withWatermark("p_ts", "2 hours")
        s = s.withWatermark("s_ts", "2 hours")
    joined = p.join(
        s,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("s_ts") <= F.col("p_ts")),
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "signup_id",
        F.unix_timestamp("p_ts").alias("p_s"),
        F.unix_timestamp("s_ts").alias("s_s"),
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Built-in streaming dedup: one row per key while the key's state lives
    within the watermark (Spark evicts state after it) — the watermark-aware
    complement of streaming/stateful.py's custom applyInPandasWithState
    dedup (which keeps its seen-set forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
