"""Min/max pixel downsampling (A1-A3) and gap-fill (W1).

The reference's visually-load-bearing operator: group a per-channel
sample stream into fixed-size chunks and emit per-chunk (min, max)
pairs (query/BaseTimeSeriesQuery.scala:58-96). Two Spark-native
flavors:

- **time-bucketed** (`downsample_minmax_time`): bucket on
  ``floor((ts-start)/bucket_us)``. One shuffle on (channel, bucket)
  with full map-side partial aggregation; the scalable default. With
  ingest layout partitioned by (channel_bucket, time) the shuffle is
  mostly local.
- **count-bucketed** (`downsample_minmax_count`): reference-exact
  arithmetic — chunk size ``round(pixel_us*rate/1e6)`` samples, chunk
  count ``floor(total/chunk)``, ragged tail dropped
  (BaseTimeSeriesQuery.scala:69-89). Needs per-channel sample indices
  (row_number over ts) — a per-channel sort, acceptable because
  channels partition the data and Spark sorts within partitions.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pennsieve_streaming_spark.datamodel import RESAMPLE_RATIO_THRESHOLD


def should_resample(rate_hz: float, pixel_width_us: int) -> bool:
    """A2 — resample only when >3 samples per pixel
    (query/TimeSeriesQueryUtils.scala:175-182)."""
    period_us = 1e6 / rate_hz
    return pixel_width_us / period_us > RESAMPLE_RATIO_THRESHOLD


def resample_chunk_params(
    pixel_width_us: int, rate_hz: float, duration_us: int
) -> tuple[int, int, float]:
    """Reference chunking arithmetic (BaseTimeSeriesQuery.scala:69-85).

    Returns (chunk_size_samples, n_chunks, chunk_time_us):
      chunk_size = round(pixel_width * rate / 1e6)   [Scala Math.round]
      n_chunks   = floor(total_points / chunk_size)
      chunk_time = chunk_size / rate * 1e6
    """
    requested = pixel_width_us * rate_hz / 1e6
    chunk_size = int(math.floor(requested + 0.5))
    total_points = duration_us / 1e6 * rate_hz
    n_chunks = int(math.floor(total_points / chunk_size)) if chunk_size else 0
    chunk_time = chunk_size / rate_hz * 1e6 if chunk_size else 0.0
    return chunk_size, n_chunks, chunk_time


def downsample_minmax_time(
    samples: DataFrame,
    start_us: int,
    end_us: int,
    bucket_us: int,
) -> DataFrame:
    """Time-bucketed min/max downsample.

    Output: (channel, bucket, bucket_start, min_val, max_val, n_samples)
    sorted-friendly; ``bucket_start = start + bucket*bucket_us``.
    """
    bucket = F.floor((F.col("ts") - F.lit(start_us)) / F.lit(bucket_us)).cast("long")
    return (
        samples.filter((F.col("ts") >= start_us) & (F.col("ts") < end_us))
        .withColumn("bucket", bucket)
        .groupBy("channel", "bucket")
        .agg(
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .withColumn("bucket_start", F.lit(start_us) + F.col("bucket") * F.lit(bucket_us))
    )


def downsample_minmax_count(
    samples: DataFrame,
    chunk_size: int,
    drop_ragged_tail: bool = True,
) -> DataFrame:
    """Count-bucketed (reference-exact) min/max downsample.

    Chunks are runs of ``chunk_size`` consecutive samples per channel in
    ts order; the ragged tail chunk is dropped (reference
    ``.take(numberOfChunks)`` with n_chunks = floor(total/chunk),
    BaseTimeSeriesQuery.scala:80-85).

    **Bounded windows only**: ``row_number() OVER (PARTITION BY
    channel)`` routes a channel's whole range through one task. That is
    exactly the reference's own execution shape (one stream per
    channel-request, capped at 100k samples by the query guard), and
    the serving router never sends unbounded ranges here — it uses the
    time-bucketed variant. For bulk jobs over regular-rate channels use
    ``downsample_minmax_count_regular``, which derives the index
    arithmetically and keeps full map-side parallelism.

    Output: (channel, bucket, min_val, max_val, n_samples).
    """
    w = Window.partitionBy("channel").orderBy("ts", "value")
    idx = F.row_number().over(w) - F.lit(1)
    df = (
        samples.withColumn("bucket", F.floor(idx / F.lit(chunk_size)).cast("long"))
        .groupBy("channel", "bucket")
        .agg(
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    if drop_ragged_tail:
        df = df.filter(F.col("n_samples") == chunk_size)
    return df


def downsample_minmax_count_regular(
    samples: DataFrame,
    chunk_size: int,
    period_us: int,
    drop_ragged_tail: bool = True,
) -> DataFrame:
    """Count-bucketed downsample for REGULAR, gap-free channels —
    the 100×-scale path for bulk jobs.

    When ``ts = t0 + i * period`` (the layout ingest materializes,
    streaming/ingest.py), the sample index is pure arithmetic:
    ``i = (ts - t0) / period``. No window function, no per-channel
    sort through one task — just a broadcast of per-channel t0 and the
    same single-shuffle groupBy as the time-bucketed variant. Equals
    ``downsample_minmax_count`` exactly on gap-free regular input.

    Output: (channel, bucket, min_val, max_val, n_samples).
    """
    t0 = samples.groupBy("channel").agg(F.min("ts").alias("_t0"))
    idx = F.floor((F.col("ts") - F.col("_t0")) / F.lit(period_us)).cast("long")
    df = (
        samples.join(F.broadcast(t0), "channel")
        .withColumn("bucket", F.floor(idx / F.lit(chunk_size)).cast("long"))
        .groupBy("channel", "bucket")
        .agg(
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    if drop_ragged_tail:
        df = df.filter(F.col("n_samples") == chunk_size)
    return df


def downsample_minmax_time_salted(
    samples: DataFrame,
    start_us: int,
    end_us: int,
    bucket_us: int,
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant variant of A1 for pathological hot channels.

    Two-stage aggregation: first on (channel, bucket, salt) — spreading
    one hot (channel, bucket) cell across ``salt`` reducers — then
    merge (min of mins, max of maxes, sum of counts). min/max/count
    re-aggregate losslessly, so results are identical to the direct
    operator. AQE's skew handling covers joins; this covers the
    aggregation path the reference runs per channel.
    """
    bucket = F.floor((F.col("ts") - F.lit(start_us)) / F.lit(bucket_us)).cast("long")
    stage1 = (
        samples.filter((F.col("ts") >= start_us) & (F.col("ts") < end_us))
        .withColumn("bucket", bucket)
        .withColumn("salt", (F.abs(F.hash("ts")) % salt))
        .groupBy("channel", "bucket", "salt")
        .agg(
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    return (
        stage1.groupBy("channel", "bucket")
        .agg(
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
            F.sum("n_samples").alias("n_samples"),
        )
        .withColumn("bucket_start", F.lit(start_us) + F.col("bucket") * F.lit(bucket_us))
    )


def fill_gaps(minmax: DataFrame, order_col: str = "bucket") -> DataFrame:
    """W1 gap fill (query/TimeSeriesQueryUtils.scala:77-108).

    Extend each (min, max) pixel column toward its successor so
    consecutive pixel columns visually connect. Successor of the last
    element is its own flipped pair (fillGaps pads with ``flip(last)``,
    which never alters the last pair — `fillGap` of (a,b) vs (b,a) hits
    the containment branch).

    Casework (fillGap):
      contains(either way)      -> unchanged
      max1 < min2 (disjoint up) -> (min1, min2)
      min1 > max2 (disjoint dn) -> (max2, max1)
      overlap                   -> unchanged
    """
    w = Window.partitionBy("channel").orderBy(order_col)
    min2 = F.coalesce(F.lead("min_val").over(w), F.col("max_val"))
    max2 = F.coalesce(F.lead("max_val").over(w), F.col("min_val"))
    contains = (
        ((F.col("min_val") <= min2) & (F.col("max_val") >= max2))
        | ((min2 <= F.col("min_val")) & (max2 >= F.col("max_val")))
    )
    new_min = (
        F.when(contains, F.col("min_val"))
        .when(F.col("max_val") < min2, F.col("min_val"))
        .when(F.col("min_val") > max2, max2)
        .otherwise(F.col("min_val"))
    )
    new_max = (
        F.when(contains, F.col("max_val"))
        .when(F.col("max_val") < min2, min2)
        .when(F.col("min_val") > max2, F.col("max_val"))
        .otherwise(F.col("max_val"))
    )
    return minmax.withColumn("filled_min", new_min).withColumn("filled_max", new_max)


def downsample_ltob(samples: DataFrame, bucket_samples: int) -> DataFrame:
    """Largest-Triangle-One-Bucket downsample (Steinarsson 2013, the
    one-bucket variant of LTTB): rank samples per channel, cut into
    ``bucket_samples``-row buckets, and keep from each bucket the point
    whose triangle with its IMMEDIATE neighbors has the largest
    effective area — the visual-salience downsampler plotting clients
    use when min/max envelopes over-plot.

    Unlike LTTB proper, LTOB's area uses the fixed adjacent points, so
    every bucket decides independently — embarrassingly parallel, no
    sequential dependency on the previously selected point (which is
    what makes LTTB unshardable).

    Determinism contract: the doubled area ``|(x0-x2)(y1-y0) -
    (x0-x1)(y2-y0)|`` is computed in a fixed expression over
    already-bit-identical inputs and rounded to BIGINT, so the
    per-bucket argmax (area desc, then ts, value) is an integer
    comparison on both engines. Channel endpoints (no lag/lead) carry
    area -1: never chosen over an interior point, but still emitted
    when alone in their bucket.

    Output: (channel, bucket, ts, value, area_q).

    Plan: one window shuffle on (channel) for the ranking + neighbor
    lags (same pass), then a per-(channel, bucket) argmax row_number —
    Spark plans both windows in a single exchange. At scale
    parallelism is |channels|; few-channels × deep-history splits with
    the rolling.py blocked-halo pattern (lag/lead lookback is 1 row).
    """
    bs = int(bucket_samples)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    area = (
        "CAST(round(abs(CAST(x0 - ts2 AS DOUBLE) * (value - y0) "
        "- CAST(x0 - ts AS DOUBLE) * (y2 - y0))) AS BIGINT)"
    )
    ranked = (
        samples.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("x0", F.lag("ts").over(w))
        .withColumn("y0", F.lag("value").over(w))
        .withColumn("ts2", F.lead("ts").over(w))
        .withColumn("y2", F.lead("value").over(w))
        .withColumn("bucket", F.floor(F.col("_rn") / bs))
        .withColumn(
            "area_q",
            F.when(
                F.col("x0").isNull() | F.col("ts2").isNull(), F.lit(-1)
            ).otherwise(F.expr(area)),
        )
    )
    pick = Window.partitionBy("channel", "bucket").orderBy(
        F.desc("area_q"), "ts", "value"
    )
    return (
        ranked.withColumn("_pk", F.row_number().over(pick))
        .filter(F.col("_pk") == 1)
        .select("channel", "bucket", "ts", "value", "area_q")
    )
