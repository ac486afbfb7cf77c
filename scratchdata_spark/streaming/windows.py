"""Event-time windowed aggregations with watermarks over the events
stream — capability headroom beyond the reference (which has no
stream processing; SURVEY §2 "Streaming-only operators: none").

Tumbling and session windows with late-data handling; all
built-in Structured Streaming operators, no custom state. Outputs are
append-mode with watermark-driven finalization, so at scale state
size is bounded by (watermark horizon × key cardinality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def events_stream_from_dir(spark, source_dir: str, max_files_per_trigger: int = 100) -> DataFrame:
    """File-source stream of events parquet (ts stored as micros long
    → proper timestamp column for event-time semantics)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Per-type counts in fixed windows; late rows beyond the
    watermark are dropped (the reference has no notion of this)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Built-in session windows (gap-based) per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )
