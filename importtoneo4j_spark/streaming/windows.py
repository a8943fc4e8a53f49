"""Streaming windowed metrics over the transcript stream.

The reference is batch-only; this is the engine's forward-looking streaming
surface: tumbling and session-window turn metrics with a watermark
for late data. The streams run under availableNow triggers in tests, driven to completion
synchronously against a parquet directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from importtoneo4j_spark.schemas import TRANSCRIPTS


def turn_rate_stream(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """readStream -> watermark -> tumbling-window counts per role."""
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(input_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "role",
            "n_turns",
            "n_convs",
        )
    )


def session_window_stream(
    spark: SparkSession,
    input_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows over the transcript stream (F.session_window
    — state merges adjacent windows per key; the watermark closes a
    session once no event can extend it). Batch twin: the SAME expression
    on a static frame (parity-tested), whose session count per key equals
    the lag-based w2 sessionization with a STRICT > gap threshold: the
    native operator starts a new session only when the quiet period
    EXCEEDS the gap (window is [start, last_ts + gap), and an event
    landing exactly at last_ts + gap still merges — verified empirically
    on Spark 4.1.2, boundary-asserted in tests)."""
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(input_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("win.start").alias("sess_start"),
            F.col("win.end").alias("sess_end"),
            "conv_id",
            "n_turns",
        )
    )
