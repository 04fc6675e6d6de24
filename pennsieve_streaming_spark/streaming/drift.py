"""Streaming distribution-drift (PSI) monitor: the per-(channel, bin)
reference/current counter table of operators/stats.distribution_drift
run as a LIVE complete-mode aggregation.

Same justification as the streaming trend/quality/CMS monitors: the
two counters are associative conditional sums, so state is
|channels|×|bins| rows by construction, any availableNow drain equals
the batch aggregation over the same data, and the batch SQL oracle
gates the streaming operator. The densify + add-half smoothing + PSI
fold is applied AFTER the drain via the SHARED
``finish_distribution_drift`` (identical fixed expressions over
identical exact integers ⇒ bit-identical output).

Production shape: the monitor keeps a bounded live counter table per
channel; each micro-batch folds new samples in map-side (partial
aggregation), and the PSI read-out is a |channels|×bins-row batch
computation on whatever the sink holds — the drift alarm costs no
second scan of history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pennsieve_streaming_spark.util import pin


def stream_drift_counts(
    samples_stream: DataFrame,
    split_ts: int,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Live per-(channel, bin) ref/cur counters (single streaming agg,
    bounded state) — the SHARED operators/stats.drift_bin_counts
    builder applied to the streaming frame, so batch and streaming
    counter expressions are one definition by construction."""
    from pennsieve_streaming_spark.operators.stats import drift_bin_counts

    return drift_bin_counts(samples_stream, split_ts, lo, hi, n_bins)


def drain_distribution_drift(
    spark: SparkSession,
    samples_stream: DataFrame,
    split_ts: int,
    lo: float,
    hi: float,
    n_bins: int,
    checkpoint: str,
    query_name: str = "drift_counts",
) -> DataFrame:
    """availableNow drain of the live counters → the finished PSI
    table (== batch distribution_drift over the same data)."""
    from pennsieve_streaming_spark.operators.stats import (
        finish_distribution_drift,
    )

    counts = stream_drift_counts(samples_stream, split_ts, lo, hi, n_bins)
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.table(query_name)
    # the finish self-joins the counter table (densify grid +
    # totals); pin the tiny |channels|×bins drain once so the
    # plan doesn't re-reference the transient memory sink (which
    # trips Catalyst's conflicting-reference resolution)
    drained = pin(drained)
    return finish_distribution_drift(drained, n_bins)
