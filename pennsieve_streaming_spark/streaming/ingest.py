"""Structured Streaming ingest path (S9/A4/T9 + A6 streaming flavor).

The reference ingests protobuf ``IngestSegment`` messages over a
WebSocket and resamples them on arrival
(query/TimeSeriesQueryUtils.scala:243-285). Spark-natively:

  readStream(ingest_segments) → posexplode to samples → writeStream
  to the partitioned samples table (exactly-once via checkpoint +
  idempotent parquet append), and/or the realtime min/max resample as
  a stateless select inside each micro-batch.

Watermarks + session_window give the streaming variant of the gap
sessionization (A6) that the reference only has in batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pennsieve_streaming_spark.datamodel import INGEST_SEGMENTS_SCHEMA
from pennsieve_streaming_spark.operators.realtime import resample_ingest_segments


def read_ingest_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-based streaming source of ingest segments (stand-in for a
    Kafka topic; swap ``format('kafka')`` + from_protobuf in prod).
    ``maxFilesPerTrigger`` is the ingest throttle (reference T4)."""
    return (
        spark.readStream.schema(INGEST_SEGMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def explode_segments_to_samples(segments: DataFrame) -> DataFrame:
    """W3 — materialize explicit timestamps at ingest:
    ts = start_ts + pos * round(sample_period)

    The reference materializes a per-stream INTEGER period first
    (QuerySequencer.scala:82-87 rounds 1e6/rate to a Long;
    IngestSegmentSpec uses samplePeriod.toLong) and multiplies by the
    position — per-sample timestamps step by a constant Long, they do
    not accumulate fractional-period rounding. Mirror that here:
    round the period once per segment, then ts = start + pos * period.
    """
    period = F.floor(F.col("sample_period") + F.lit(0.5)).cast("long")
    return segments.select(
        "channel",
        "start_ts",
        period.alias("period_us"),
        F.posexplode("data").alias("pos", "value"),
    ).select(
        "channel",
        (F.col("start_ts") + F.col("pos") * F.col("period_us")).alias("ts"),
        "value",
    )


def realtime_resample_stream(
    segments: DataFrame, realtime_pixel_duration_us: int
) -> DataFrame:
    """A4 applied inside the stream: stateless per-segment resample
    (each micro-batch row is independent, so this is a narrow map +
    local group — no streaming state needed)."""
    return resample_ingest_segments(segments, realtime_pixel_duration_us)


def streaming_gap_sessions(samples_stream: DataFrame, gap_us: int) -> DataFrame:
    """A6 as a streaming query: session windows close after ``gap_us``
    of event-time silence per channel. Watermark bounds state (the
    reference has no late-data story at all — SURVEY §2.10)."""
    with_event_time = samples_stream.withColumn(
        "event_time", F.timestamp_micros(F.col("ts"))
    ).withWatermark("event_time", "10 seconds")
    return (
        with_event_time.groupBy(
            "channel",
            F.session_window("event_time", f"{gap_us} microseconds"),
        )
        .agg(
            F.min("ts").alias("span_lo"),
            F.max("ts").alias("span_hi"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select("channel", "span_lo", "span_hi", "n_samples")
    )
