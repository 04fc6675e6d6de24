"""Schemas and engine constants.

The data model mirrors the reference service's abstractions
(SURVEY.md §1; reference: server/WebServerPorts.scala:57-61 for the
range catalogs, query/QuerySequencer.scala:82-87 for the implicit
timestamp rule) re-expressed as explicit Spark tables:

- ``samples(channel, ts, value)``   — continuous signal fact table.
  Timestamps are **microseconds since epoch as LONG** (reference:
  query/TimeSeriesQueryUtils.scala:163-165) and are materialized at
  ingest (``t(i) = segment_start + i * round(1e6/rate)``) rather than
  implicit in file offsets.
- ``channels``                      — channel dimension (electrode
  metadata; reference fields observable at
  src/test/.../TestWebServerPorts.scala:50-66).
- ``ranges`` / ``unit_ranges``      — segment catalogs (kept for parity
  queries; at scale Parquet partition/min-max stats do this job).
- ``events(channel, ts, unit_class)`` — spike/event timestamps.
- ``spike_waveforms``               — per-spike waveform arrays.
- ``ingest_segments``               — streaming-ingest micro-batch rows
  (protobuf IngestSegment shape: channelId, startTime, samplePeriod,
  data[] — reference IngestSegmentSpec.scala:29-34).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Operational constants of the reference service (BASELINE.md).
DEFAULT_QUERY_LIMIT = 100_000          # application.conf:23-24
DEFAULT_GAP_MULTIPLE = 2.0             # application.conf:30-31
RESAMPLE_RATIO_THRESHOLD = 3.0         # TimeSeriesQueryUtils.scala:175-182
SEND_SPIKE_THRESHOLD = 10              # application.conf:36-38
FILTER_RESET_SAMPLE_PERIODS = 100      # TimeSeriesQueryRawHttp.scala:158

SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("channel", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)

CHANNELS_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.StringType(), False),
        T.StructField("package_id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("type", T.StringType(), True),  # 'continuous' | 'unit'
        T.StructField("rate", T.DoubleType(), True),
        T.StructField("start_ts", T.LongType(), True),
        T.StructField("end_ts", T.LongType(), True),
        T.StructField("unit", T.StringType(), True),
        T.StructField("spike_duration", T.LongType(), True),
    ]
)

RANGES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("channel", T.StringType(), False),
        T.StructField("rate", T.DoubleType(), True),
        T.StructField("lo", T.LongType(), False),
        T.StructField("hi", T.LongType(), False),
        T.StructField("location", T.StringType(), True),
    ]
)

UNIT_RANGES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("channel", T.StringType(), False),
        T.StructField("count", T.LongType(), True),
        T.StructField("lo", T.LongType(), False),
        T.StructField("hi", T.LongType(), False),
        T.StructField("tsindex", T.StringType(), True),
        T.StructField("tsblob", T.StringType(), True),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("channel", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("unit_class", T.ByteType(), True),
    ]
)

SPIKE_WAVEFORMS_SCHEMA = T.StructType(
    [
        T.StructField("channel", T.StringType(), False),
        T.StructField("spike_ts", T.LongType(), False),
        T.StructField("waveform", T.ArrayType(T.DoubleType()), True),
    ]
)

INGEST_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("channel", T.StringType(), False),
        T.StructField("start_ts", T.LongType(), False),
        T.StructField("sample_period", T.DoubleType(), False),
        T.StructField("data", T.ArrayType(T.DoubleType()), True),
    ]
)


def sample_count(duration_us: int, rate_hz: float) -> int:
    """round(duration/1e6 * rate) — reference TimeSeriesQueryUtils.scala:156-161."""
    import math

    return int(math.floor(duration_us / 1e6 * rate_hz + 0.5))
