"""Streaming query shapes (SURVEY.md §2 B9).

Every shape is written against the unified DataFrame API, so the SAME
function runs in batch mode (for the driver's oracle check) and on a
``readStream`` source (Structured Streaming's incremental planner
executes it as a stateful streaming job — SIGMOD'18 paper in PAPERS.md).
tests/test_streaming.py proves batch/stream equivalence by replaying the
events fixture file-by-file.

The reference is strictly batch (sync.py:567-573 whole-file reads); these
operators are the [EXT] streaming mandate of BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _ltz_event_time(df: DataFrame) -> DataFrame:
    """Coerce the event-time column ``ts`` to TIMESTAMP (LTZ) for
    watermarking.

    Parquet fixtures may carry TIMESTAMP_NTZ, which EventTimeWatermark
    rejects. The session timezone is pinned to UTC (session.py), so the
    cast is wall-clock-identical."""
    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_agg(events: DataFrame) -> DataFrame:
    """10-minute tumbling windows per event_type."""
    w = F.window("ts", "10 minutes")
    return (
        events.groupBy(w, "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event in 2 windows)."""
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        events.groupBy(w, "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def session_window_agg(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 5-minute inactivity gap.

    Spark semantics: session end = last event ts + gap."""
    sw = F.session_window("ts", "5 minutes")
    return (
        events.groupBy(sw, "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id", "n_events",
        )
    )


def watermarked_tumbling(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling agg with a watermark: in streaming mode state for windows
    older than (max event time - watermark) is finalized and dropped —
    bounded state at any scale. In batch mode withWatermark is a no-op, so
    the oracle is the plain tumbling aggregation."""
    w = F.window("ts", "10 minutes")
    return (
        _ltz_event_time(events).withWatermark("ts", watermark)
        .groupBy(w, "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def stream_distinct(events: DataFrame) -> DataFrame:
    """Stateful dedup on (user_id, event_type): streaming mode keeps one
    state entry per key."""
    return events.select("user_id", "event_type").dropDuplicates()
