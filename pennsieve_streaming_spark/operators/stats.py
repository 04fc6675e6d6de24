"""Per-channel distribution / anomaly statistics: fixed-width value
histograms, exact-moment z-score outliers, threshold crossings.

Not literal reference operators (the reference aggregates only min/max
per bucket) but the immediate next layer an EEG QC pipeline runs:
amplitude histograms for electrode-health dashboards, z-score artifact
flags, and threshold-crossing counts (the classic spike-rate proxy —
the reference's NeuralPoint path serves *pre-computed* spike events;
this derives crossing counts from the raw signal).

Determinism contract: every float reduction is either exact (integer
counts) or an integer sum of 1e-6-quantized values (associative ⇒
partition/engine independent, the operators/rolling.py contract); the
mean/variance/z expressions are then FIXED single expressions (each
IEEE op correctly rounded) evaluated identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pennsieve_streaming_spark.util import pin

QUANT = 1_000_000


def value_histogram(
    samples: DataFrame, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Fixed-width per-channel histogram of ``value`` over [lo, hi).

    Output: (channel, bin, bin_lo, n) for non-empty bins; values outside
    [lo, hi) are dropped (an explicit contract — callers add a guard
    count if they need it). ``bin_lo`` uses the same ``lo + bin*width``
    expression on both engines.

    Plan: one map + one partial-agg groupBy to |channels|×|bins| rows —
    shuffle payload is bounded by the bin count, not the data.
    """
    width = (float(hi) - float(lo)) / int(n_bins)
    bin_col = F.floor((F.col("value") - F.lit(float(lo))) / F.lit(width))
    return (
        samples.withColumn("bin", bin_col)
        .filter((F.col("bin") >= 0) & (F.col("bin") < int(n_bins)))
        .groupBy("channel", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "channel",
            F.col("bin").cast("long").alias("bin"),
            (F.lit(float(lo)) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            "n",
        )
    )


def zscore_outliers(samples: DataFrame, z_threshold: float) -> DataFrame:
    """Flag samples whose |z| exceeds ``z_threshold`` against their
    channel's full-window mean/std (population std).

    Moments come from exact BIGINT sums of 1e-6-quantized ``value`` and
    ``value²`` — bit-stable under any partitioning — then one fixed
    float expression per row:

        mean = sum_q / 1e6 / n
        var  = sumsq_q / 1e6 / n - mean * mean   (clamped at 0)
        z    = (value - mean) / sqrt(var)

    The flag compares ``round(z, 9)`` so an engine's last-ulp wiggle in
    the (single) sqrt/division can never flip membership; zero-variance
    channels flag nothing (z would be NaN, and both Spark and DuckDB
    order NaN above every number — an explicit ``var > 0`` guard keeps
    the semantics sane and the engines in lockstep). Output:
    (channel, ts, value, z) for flagged rows.

    Plan: one partial-agg groupBy to |channels| rows, broadcast back —
    no second shuffle of the samples.
    """
    q = F.expr(f"CAST(round(value * {QUANT}) AS BIGINT)")
    q2 = F.expr(f"CAST(round(value * value * {QUANT}) AS BIGINT)")
    stats = (
        samples.withColumn("_q", q)
        .withColumn("_q2", q2)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_q").cast("long").alias("_sq"),
            F.sum("_q2").cast("long").alias("_sq2"),
        )
    )
    joined = samples.join(F.broadcast(stats), "channel")
    mean = F.expr(f"CAST(_sq AS DOUBLE) / {QUANT} / _n")
    joined = joined.withColumn("_mean", mean)
    var = F.expr(
        f"greatest(CAST(_sq2 AS DOUBLE) / {QUANT} / _n - _mean * _mean, "
        "CAST(0 AS DOUBLE))"
    )
    joined = joined.withColumn("_var", var)
    zexpr = F.expr("(value - _mean) / sqrt(_var)")
    return (
        joined.withColumn("z", zexpr)
        .filter(
            (F.col("_var") > 0)
            & (F.abs(F.round(F.col("z"), 9)) > float(z_threshold))
        )
        .select("channel", "ts", "value", "z")
    )


def threshold_crossings(samples: DataFrame, threshold: float) -> DataFrame:
    """Count upward threshold crossings per channel: sample i crosses
    when ``prev_value < threshold AND value >= threshold`` in
    (ts, value) order — the reference's spike-detection convention
    (crossing on reaching the threshold, ties-by-ts ordered by value so
    the count is engine-independent even with duplicate timestamps).

    Output: (channel, n_crossings, first_crossing_ts, last_crossing_ts)
    — channels with zero crossings kept, extremes reported as -1
    (NULL-free row contract).

    Plan: one window pass per channel + a groupBy to |channels| rows.
    For few-channels × deep-history the blocked-halo split (one-row
    halo) applies as in operators/rolling.py.
    """
    thr = float(threshold)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    prev = F.lag("value").over(w)
    crossed = (
        prev.isNotNull() & (prev < thr) & (F.col("value") >= thr)
    ).cast("int")
    flagged = samples.withColumn("_x", crossed)
    return flagged.groupBy("channel").agg(
        F.sum("_x").cast("long").alias("n_crossings"),
        F.coalesce(
            F.min(F.when(F.col("_x") == 1, F.col("ts"))), F.lit(-1)
        ).alias("first_crossing_ts"),
        F.coalesce(
            F.max(F.when(F.col("_x") == 1, F.col("ts"))), F.lit(-1)
        ).alias("last_crossing_ts"),
    )


def channel_percentiles(
    samples: DataFrame, ps: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Exact per-channel percentiles by explicit order statistics.

    Built-ins (Spark ``percentile``, DuckDB ``quantile_cont``) agree on
    the linear-interpolation DEFINITION but not necessarily on the
    float evaluation order, so this computes the definition explicitly:
    rank rows per channel, pick the two bracketing order statistics for
    each p (index ``i = floor(p*(n-1))``, fraction ``f = p*(n-1) - i``),
    and interpolate with one fixed expression — identical on both
    engines, bit-identical result.

    Output: (channel, n, p<NN>... one column per requested percentile,
    named p50/p90/p99-style). Plan: ONE ranking window pass per channel
    + a groupBy to |channels| rows (conditional aggregation picks the
    bracketing rows — no joins, no second pass).
    """
    w = Window.partitionBy("channel").orderBy("value", "ts")
    ranked = samples.select(
        "channel",
        "value",
        (F.row_number().over(w) - 1).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("channel")).alias("_n"),
    )
    aggs = [F.max("_n").cast("long").alias("n")]
    posts = []
    for p in ps:
        name = f"p{str(p).replace('0.', '').ljust(2, '0')}"
        idx = F.floor(F.lit(float(p)) * (F.col("_n") - 1))
        nxt = F.least(idx + 1, F.col("_n") - 1)
        aggs.append(
            F.max(F.when(F.col("_rn") == idx, F.col("value"))).alias(f"_lo_{name}")
        )
        aggs.append(
            F.max(F.when(F.col("_rn") == nxt, F.col("value"))).alias(f"_hi_{name}")
        )
        posts.append(
            F.expr(
                f"_lo_{name} + (_hi_{name} - _lo_{name}) * "
                f"(CAST({p!r} AS DOUBLE) * (n - 1) "
                f"- floor(CAST({p!r} AS DOUBLE) * (n - 1)))"
            ).alias(name)
        )
    out = ranked.groupBy("channel").agg(*aggs)
    return out.select("channel", "n", *posts)


def channel_correlation(values: DataFrame, quant: int = 100) -> DataFrame:
    """Pearson correlation for every channel pair over time-aligned
    values (same ``ts`` grid per channel — e.g. the LOCF/interp
    resample output, or natively-aligned feeds).

    Sums run over ``quant``-quantized BIGINTs (associative ⇒
    partition-order independent); the caller picks ``quant`` so that
    ``n * (max|value| * quant)^2 < 2^63`` (the default 1e2 suits
    1e5-scale amplitudes at ~1e6 aligned points — the r resolution is
    bounded by quantization, not float noise). The r formula is then
    one fixed double expression from those exact sums.

    Output: (ch_a, ch_b, n, r) for ch_a < ch_b, r NULL-guarded to 0
    for degenerate (zero-variance) pairs.

    Plan (100 TB): the ts equi-join shuffles both sides once on ts
    (with channel pruning pushed to the scan); the pair aggregation is
    map-side partial to C(|channels|, 2) rows.
    """
    q = int(quant)
    v = values.select(
        "channel", "ts",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    a = v.select(
        F.col("channel").alias("ch_a"), "ts", F.col("xq").alias("xa")
    )
    b = v.select(
        F.col("channel").alias("ch_b"), "ts", F.col("xq").alias("xb")
    )
    pairs = a.join(b, "ts").filter(F.col("ch_a") < F.col("ch_b"))
    agg = pairs.groupBy("ch_a", "ch_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
    )
    r = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
        "* sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
        "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    denom_pos = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0 AND "
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
        "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0"
    )
    return agg.select(
        "ch_a", "ch_b", "n",
        F.expr(
            f"CASE WHEN {denom_pos} THEN round({r}, 9) "
            "ELSE CAST(0 AS DOUBLE) END"
        ).alias("r"),
    )


def channel_mad(samples: DataFrame) -> DataFrame:
    """Robust per-channel scale: median + MAD (median absolute
    deviation) — the artifact-tolerant alternative to mean/std for QC
    thresholds (a single railing electrode blows up the std but barely
    moves the MAD).

    Both medians use the explicit order-statistic interpolation of
    :func:`channel_percentiles` (bit-identical cross-engine). Output:
    (channel, n, median, mad).

    Plan: two ranking passes per channel (the second over |x - median|
    after a broadcast join of the |channels|-row medians) — exact, no
    sampling; at production channel counts both windows parallelize
    across channels.
    """
    med = channel_percentiles(samples, (0.5,)).select(
        "channel", F.col("p50").alias("median")
    )
    dev = samples.join(F.broadcast(med), "channel").select(
        "channel",
        "ts",
        F.abs(F.col("value") - F.col("median")).alias("value"),
    )
    mad = channel_percentiles(dev, (0.5,)).select(
        "channel", "n", F.col("p50").alias("mad")
    )
    return mad.join(F.broadcast(med), "channel").select(
        "channel", "n", "median", "mad"
    )


def channel_autocorrelation(
    values: DataFrame, lags_us: tuple[int, ...], quant: int = 100
) -> DataFrame:
    """Sample autocorrelation at the given time lags over time-aligned
    per-channel values (e.g. the LOCF grid): Pearson r of the pairs
    (v_t, v_{t+lag}) — the standard diagnostics for periodicity and
    baseline drift.

    Same determinism contract as :func:`channel_correlation` (exact
    ``quant``-quantized BIGINT sums, one fixed float formula; pick
    quant so n*(max|v|*quant)^2 < 2^63). Output: (channel, lag_us, n,
    r) — r = 0 for degenerate (zero-variance) overlaps.

    Plan: the lagged side explodes |lags| rows per value (narrow),
    then ONE ts equi-join per channel and a groupBy to
    |channels|×|lags| rows.
    """
    q = int(quant)
    v = values.select(
        "channel", "ts",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    lag_arr = ", ".join(str(int(x)) for x in lags_us)
    lagged = v.select(
        "channel",
        F.explode(F.expr(f"array({lag_arr})")).alias("lag_us"),
        (F.col("ts")).alias("ts_b"),
        F.col("xq").alias("xb"),
    ).withColumn("ts", F.col("ts_b") - F.col("lag_us"))
    j = v.select("channel", "ts", F.col("xq").alias("xa")).join(
        lagged, ["channel", "ts"]
    )
    agg = j.groupBy("channel", "lag_us").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
    )
    r = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
        "* sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
        "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    pos = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0 AND "
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
        "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0"
    )
    return agg.select(
        "channel",
        F.col("lag_us").cast("long").alias("lag_us"),
        "n",
        F.expr(
            f"CASE WHEN {pos} THEN round({r}, 9) ELSE CAST(0 AS DOUBLE) END"
        ).alias("r"),
    )


def channel_cross_correlation(
    values: DataFrame, lags_us: tuple[int, ...], quant: int = 100
) -> DataFrame:
    """Cross-correlation between channel PAIRS at signed time lags:
    Pearson r of (a_t, b_{t+lag}) for every ch_a < ch_b — lead/lag
    coupling diagnostics (which electrode sees the wave first, does
    one sensor trail another by a day). Signed lags cover both
    directions of the asymmetric cross-correlogram without duplicating
    the pair set.

    Same determinism contract as :func:`channel_correlation`: exact
    ``quant``-quantized BIGINT sums (associative, partition-order
    free), one fixed double formula, r = 0 for degenerate overlaps.
    Output: (ch_a, ch_b, lag_us, n, r).

    Plan (100 TB): the lag explode is narrow (|lags| rows per value),
    then ONE ts equi-join (both sides shuffle on ts once) and a
    partial-agg groupBy down to C(|channels|,2)×|lags| rows. The join
    is on ts alone so all pairs share one shuffle — with channel
    pruning pushed to the scan, the join input is |channels|×|grid|,
    not pairs×|grid|.
    """
    q = int(quant)
    v = values.select(
        "channel", "ts",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    a = v.select(F.col("channel").alias("ch_a"), "ts", F.col("xq").alias("xa"))
    lag_arr = ", ".join(str(int(x)) for x in lags_us)
    b = v.select(
        F.col("channel").alias("ch_b"),
        F.explode(F.expr(f"array({lag_arr})")).alias("lag_us"),
        F.col("ts").alias("ts_b"),
        F.col("xq").alias("xb"),
    ).withColumn("ts", F.col("ts_b") - F.col("lag_us"))
    j = a.join(b, "ts").filter(F.col("ch_a") < F.col("ch_b"))
    agg = j.groupBy("ch_a", "ch_b", "lag_us").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
    )
    r = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
        "* sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
        "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    denom_pos = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0 AND "
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
        "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0"
    )
    return agg.select(
        "ch_a", "ch_b", F.col("lag_us").cast("long").alias("lag_us"), "n",
        F.expr(
            f"CASE WHEN {denom_pos} THEN round({r}, 9) "
            "ELSE CAST(0 AS DOUBLE) END"
        ).alias("r"),
    )


def detect_peaks(
    samples: DataFrame, min_height: float, min_prominence: float = 0.0
) -> DataFrame:
    """Local-maximum peak detection per channel: a sample is a peak if
    it strictly exceeds its predecessor, is >= its successor (plateau
    convention: the FIRST sample of a flat top is the peak), clears
    ``min_height``, and rises at least ``min_prominence`` above the
    greater of its two neighbors' minima (the cheap 1-neighborhood
    prominence proxy — full watershed prominence needs a span scan the
    spike extractor already covers).

    Edge rows (no predecessor/successor) are never peaks. Output:
    (channel, ts, value, rise) where rise = value - max(prev, next).

    All comparisons on raw doubles — no arithmetic accumulates, so the
    replay is trivially exact. Plan: one per-channel window pass
    (lag + lead in the same frame), predicate-only after that.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("channel").orderBy("ts", "value")
    x = (
        samples.select("channel", "ts", "value")
        .withColumn("prev", F.lag("value").over(w))
        .withColumn("nxt", F.lead("value").over(w))
    )
    rise = F.col("value") - F.greatest("prev", "nxt")
    return (
        x.filter(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("value") > F.col("prev"))
            & (F.col("value") >= F.col("nxt"))
            & (F.col("value") > min_height)
            & (rise >= min_prominence)
        )
        .select("channel", "ts", "value", rise.alias("rise"))
    )


HOUR_US = 3600 * 1_000_000
PROFILE_DAY_US = 24 * HOUR_US


def hourly_profile(samples: DataFrame, quant: int = 100) -> DataFrame:
    """Seasonal "typical day" profile per channel: for each hour-of-day
    bucket, the sample count and mean value — baseline material for
    rhythm-aware anomaly screens and capacity planning.

    The mean comes from an exact BIGINT sum of ``quant``-quantized
    values (associative, partition-free) divided once — the same
    contract as :func:`channel_correlation`. Output: (channel, hour,
    n, sum_q, mean) with hour in 0..23.

    Plan: pure map + one partial-agg groupBy to |channels|×24 rows.
    """
    q = int(quant)
    return (
        samples.select(
            "channel",
            F.expr(f"(ts % {PROFILE_DAY_US}) div {HOUR_US}").alias("hour"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("vq"),
        )
        .groupBy("channel", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("vq").cast("long").alias("sum_q"),
        )
        .select(
            "channel",
            "hour",
            "n",
            "sum_q",
            (
                F.col("sum_q").cast("double")
                / (F.col("n").cast("double") * q)
            ).alias("mean"),
        )
    )


def quality_profile(
    samples: DataFrame, lo: float, hi: float
) -> DataFrame:
    """Ingest data-quality validation per channel — the "expectations"
    screen a 100 TB pipeline runs before trusting a feed: row count,
    NULL values, duplicate timestamps, and range violations against
    the calibrated [lo, hi] envelope, plus the observed ts/value
    extremes.

    Output: (channel, n, n_null, n_dup_ts, n_below, n_above, ts_min,
    ts_max, v_min, v_max) — all exact integers/raw extremes, no float
    accumulation.

    Plan: one groupBy on (channel, ts) for the duplicate count folded
    into the same pass as the per-channel aggregate via a two-level
    rollup — shuffles carry (channel, ts) rows once, then |channels|
    rows. Everything is map-side partial.
    """
    per_ts = samples.groupBy("channel", "ts").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("nulls"),
        F.sum(F.when(F.col("value") < lo, 1).otherwise(0))
        .cast("long")
        .alias("below"),
        F.sum(F.when(F.col("value") > hi, 1).otherwise(0))
        .cast("long")
        .alias("above"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return per_ts.groupBy("channel").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("nulls").cast("long").alias("n_null"),
        F.sum(F.col("c") - 1).cast("long").alias("n_dup_ts"),
        F.sum("below").cast("long").alias("n_below"),
        F.sum("above").cast("long").alias("n_above"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.min("vmin").alias("v_min"),
        F.max("vmax").alias("v_max"),
    )


def seasonal_mad_outliers(
    samples: DataFrame,
    z: float = 3.5,
    bucket_us: int = PROFILE_DAY_US,
    period: int = 7,
) -> DataFrame:
    """Seasonality-aware robust outliers: the Iglewicz–Hoaglin modified
    z-score evaluated against the (channel, phase) baseline, where
    phase = (ts div bucket_us) mod period — day-of-week by default.
    A Sunday reading is judged against Sundays: the screen that keeps
    weekly rhythm from masquerading as anomaly (or masking one).

    Both the phase median and the phase MAD use the explicit
    order-statistic interpolation (:func:`channel_percentiles`
    contract) so the baseline is bit-identical cross-engine; the score
    is one fixed float expression and the gate compares its 9-dp
    rounding, exactly like the global ``channel_mad`` screen.

    Output: (channel, phase, ts, value, mz) for flagged rows.

    Plan: two ranking passes partitioned by (channel, phase) —
    |channels|×period partitions, so parallelism exceeds the global
    screen's — then broadcast joins of the baseline tables.
    """
    keyed = samples.select(
        "channel",
        F.expr(f"(ts div {int(bucket_us)}) % {int(period)}").alias("phase"),
        "ts",
        "value",
    )

    def _phase_median(df: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy("channel", "phase").orderBy("value", "ts")
        ranked = df.select(
            "channel",
            "phase",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("channel", "phase"))
            .alias("_n"),
        )
        idx = F.floor(F.lit(0.5) * (F.col("_n") - 1))
        nxt = F.least(idx + 1, F.col("_n") - 1)
        agg = ranked.groupBy("channel", "phase").agg(
            F.max("_n").cast("long").alias("n"),
            F.max(F.when(F.col("_rn") == idx, F.col("value"))).alias("_lo"),
            F.max(F.when(F.col("_rn") == nxt, F.col("value"))).alias("_hi"),
        )
        return agg.select(
            "channel",
            "phase",
            F.expr(
                "_lo + (_hi - _lo) * (CAST(0.5 AS DOUBLE) * (n - 1) "
                "- floor(CAST(0.5 AS DOUBLE) * (n - 1)))"
            ).alias(out),
        )

    med = _phase_median(keyed, "median")
    dev = keyed.join(F.broadcast(med), ["channel", "phase"]).select(
        "channel",
        "phase",
        "ts",
        F.abs(F.col("value") - F.col("median")).alias("value"),
    )
    mad = _phase_median(dev, "mad")
    j = (
        keyed.join(F.broadcast(med), ["channel", "phase"])
        .join(F.broadcast(mad), ["channel", "phase"])
    )
    mz = F.expr("0.6745e0 * (value - median) / mad")
    return (
        j.withColumn("mz", mz)
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.round(F.col("mz"), 9)) > float(z))
        )
        .select("channel", "phase", "ts", "value", "mz")
    )


def change_points(samples: DataFrame, quant: int = 100) -> DataFrame:
    """Single level-shift change-point estimate per channel: the
    CUSUM argmax — the index where the prefix sum deviates most from
    the straight line joining 0 to the channel total, i.e. the maximum
    of |S_i - (i/n)·S_n|, the classic estimator for one mean shift.

    Exactness: with ``quant``-quantized BIGINT values the deviation is
    scaled by n to stay integral — dev_i = n·S_i - i·S_n — so the
    argmax (ties → earliest ts) is a pure integer computation,
    independent of partitioning and engine. Output: (channel, ts,
    split_i, n, dev_scaled, shift) where shift is the mean difference
    after/before the split (two float divisions of exact integers).

    Overflow bound: |dev_scaled| <= n·Σ|xq| — callers size quant so
    n²·max|x|·quant < 2^63 (1e5-amplitude daily data for three
    centuries fits at quant=100).

    Plan: one per-channel cumsum window + one per-channel argmax
    window (same partitioning, one shuffle), then a |channels|-row
    result. At scale the blocked two-phase form of `contiguous_spans`
    applies identically if a single channel's history exceeds one
    task.
    """
    from pyspark.sql import Window

    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    cum = (
        samples.select(
            "channel", "ts", "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn(
            "i", F.row_number().over(w).cast("long")
        )
        .withColumn(
            "s_i",
            F.sum("xq").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("channel"))
        )
        .withColumn(
            "s_n", F.sum("xq").over(Window.partitionBy("channel"))
        )
    )
    dev = cum.withColumn(
        "dev_scaled", F.col("n") * F.col("s_i") - F.col("i") * F.col("s_n")
    ).filter(F.col("i") < F.col("n"))  # a split needs both sides non-empty
    pick = Window.partitionBy("channel").orderBy(
        F.abs(F.col("dev_scaled")).desc(), "ts"
    )
    best = dev.withColumn("_rk", F.row_number().over(pick)).filter(
        F.col("_rk") == 1
    )
    shift = (
        f"(CAST(s_n - s_i AS DOUBLE) / CAST(n - i AS DOUBLE)"
        f" - CAST(s_i AS DOUBLE) / CAST(i AS DOUBLE)) / {q}"
    )
    return best.select(
        "channel",
        "ts",
        F.col("i").alias("split_i"),
        "n",
        "dev_scaled",
        F.expr(shift).alias("shift"),
    )


def histogram_quantiles(
    samples: DataFrame,
    lo: float,
    hi: float,
    n_bins: int,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable approximate quantiles from the fixed-grid histogram —
    the bounded-state alternative to :func:`channel_percentiles` when
    exact ranking is too expensive or the data arrives in shards/
    streams: histograms merge by adding counters (associative), and
    the quantile reads off the cumulative distribution with linear
    interpolation inside the winning bucket. Error ≤ one bin width by
    construction.

    Engine-portable: bucket counts are exact integers; the quantile
    expression is one fixed float formula per p — target rank
    r = ceil(p·n), bucket b with cum ≥ r, then
    ``bin_lo + width·(r - cum_before)/count_b``. Values outside
    [lo, hi) are dropped (the histogram's documented contract).

    Output: (channel, n, q<NN>... one column per p).

    Scale: map + ONE partial-agg groupBy to |channels|×n_bins rows,
    then a |channels|-row pivot — no ranking pass over the data, state
    bounded by the grid. Matches the merge test: per-shard histograms
    summed == combined histogram.
    """
    width = (float(hi) - float(lo)) / int(n_bins)
    hist = value_histogram(samples, lo, hi, n_bins)
    w = Window.partitionBy("channel").orderBy("bin")
    cum = (
        hist.withColumn("cum", F.sum("n").over(w))
        .withColumn(
            "total", F.sum("n").over(Window.partitionBy("channel"))
        )
        .withColumn("before", F.col("cum") - F.col("n"))
    )
    aggs = [F.max("total").cast("long").alias("n")]
    for p in ps:
        name = f"q{str(p).replace('0.', '').ljust(2, '0')}"
        rank = F.expr(f"CAST(ceil(CAST({p!r} AS DOUBLE) * total) AS BIGINT)")
        is_win = (F.col("cum") >= rank) & (F.col("before") < rank)
        qexpr = (
            F.col("bin_lo")
            + F.lit(width)
            * ((rank - F.col("before")).cast("double") / F.col("n").cast("double"))
        )
        aggs.append(F.max(F.when(is_win, qexpr)).alias(name))
    return cum.groupBy("channel").agg(*aggs)


def distribution_drift(
    samples: DataFrame,
    split_ts: int,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Population Stability Index between the reference window
    (ts < split_ts) and the current window (ts >= split_ts), per
    channel — the standard production drift alarm (rule of thumb:
    PSI < 0.1 stable, > 0.25 action).

    PSI = Σ_bins (p_i - q_i) · ln(p_i / q_i), with add-half smoothing
    ((c_i + 0.5) / (n + 0.5·bins)) so empty bins never divide by zero.

    Determinism: ln() is not correctly rounded in either engine, so
    each bin's term is rounded to 9 dp and quantized to a 1e-9 BIGINT
    before the (order-free, exact) sum — the same contract as the
    unigram-LM scores. Output: (channel, n_ref, n_cur, psi).

    Plan: one map + ONE groupBy to |channels|×bins counter rows
    (counting both windows in the same pass via conditional sums),
    then a |channels|-row reduce. The drift check costs one scan.
    """
    return finish_distribution_drift(
        drift_bin_counts(samples, split_ts, lo, hi, n_bins), n_bins
    )


def drift_bin_counts(
    samples: DataFrame, split_ts: int, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """The (channel, bin, c_ref, c_cur) counter table feeding
    :func:`distribution_drift` — both window counts in one pass via
    conditional sums. The counts are associative, so the SAME builder
    runs as a complete-mode streaming aggregation (streaming/drift.py)
    with drain == batch by construction."""
    width = (float(hi) - float(lo)) / int(n_bins)
    nb = int(n_bins)
    bin_col = F.floor((F.col("value") - F.lit(float(lo))) / F.lit(width))
    return (
        samples.withColumn("bin", bin_col)
        .filter((F.col("bin") >= 0) & (F.col("bin") < nb))
        .withColumn("is_ref", (F.col("ts") < split_ts).cast("long"))
        .groupBy("channel", "bin")
        .agg(
            F.sum("is_ref").cast("long").alias("c_ref"),
            F.sum(F.lit(1) - F.col("is_ref")).cast("long").alias("c_cur"),
        )
    )


def finish_distribution_drift(counts: DataFrame, n_bins: int) -> DataFrame:
    """Densify + smooth + fold the counter table into per-channel PSI
    (the shared batch/streaming finish — identical fixed expressions
    over identical exact integers)."""
    nb = int(n_bins)
    # densify: every (channel, bin) cell participates, observed or not
    chans = counts.select("channel").distinct()
    grid = chans.crossJoin(
        counts.sparkSession.range(nb).select(F.col("id").alias("bin"))
    )
    full = grid.join(counts, ["channel", "bin"], "left").select(
        "channel",
        "bin",
        F.coalesce("c_ref", F.lit(0)).cast("long").alias("c_ref"),
        F.coalesce("c_cur", F.lit(0)).cast("long").alias("c_cur"),
    )
    tot = full.groupBy("channel").agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
    )
    j = full.join(F.broadcast(tot), "channel")
    term = (
        f"round((CAST(c_ref AS DOUBLE) + 5e-1) / (CAST(n_ref AS DOUBLE) + 5e-1 * {nb}) "
        f"- (CAST(c_cur AS DOUBLE) + 5e-1) / (CAST(n_cur AS DOUBLE) + 5e-1 * {nb}), 9) "
        f"* round(ln(((CAST(c_ref AS DOUBLE) + 5e-1) / (CAST(n_ref AS DOUBLE) + 5e-1 * {nb})) "
        f"/ ((CAST(c_cur AS DOUBLE) + 5e-1) / (CAST(n_cur AS DOUBLE) + 5e-1 * {nb}))), 9)"
    )
    termq = f"CAST(round(({term}) * 1000000000) AS BIGINT)"
    return (
        j.withColumn("tq", F.expr(termq))
        .groupBy("channel")
        .agg(
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            (F.sum("tq").cast("double") / F.lit(1e9)).alias("psi"),
        )
    )


def winsorize(
    samples: DataFrame, p_lo: float = 0.05, p_hi: float = 0.95
) -> DataFrame:
    """Winsorization: clamp each channel's values to its [p_lo, p_hi]
    percentile envelope — the standard artifact-taming preprocessing
    before moment-based operators (a railing electrode stops dragging
    means/correlations without dropping rows).

    Cut points use the explicit order-statistic interpolation
    (:func:`channel_percentiles` — bit-identical cross-engine); the
    clamp is pure comparisons. Output: (channel, ts, value, clamped,
    was_clipped).

    Plan: one ranking pass for the |channels|-row cut table, broadcast
    back over the scan — the data shuffles zero times.
    """
    pct = channel_percentiles(samples, (p_lo, p_hi))
    lo_name = f"p{str(p_lo).replace('0.', '').ljust(2, '0')}"
    hi_name = f"p{str(p_hi).replace('0.', '').ljust(2, '0')}"
    cuts = pct.select(
        "channel",
        F.col(lo_name).alias("_lo"),
        F.col(hi_name).alias("_hi"),
    )
    j = samples.join(F.broadcast(cuts), "channel")
    clamped = F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi"))
    return j.select(
        "channel",
        "ts",
        "value",
        clamped.alias("clamped"),
        (F.col("value") != clamped).alias("was_clipped"),
    )


def trend_segments(
    samples: DataFrame,
    win_us: int,
    x_unit_us: int,
    quant: int = 100,
    min_n: int = 2,
) -> DataFrame:
    """Piecewise-linear trend summary: per (channel, fixed time
    window), the exact OLS slope of value against the in-window time
    offset — the segment-level "is this channel drifting up or down"
    rollup (the fixed-window cousin of the zipf_fit regression,
    change_points' quantization class).

    Exactness: values quantize to ``vq = round(value·quant)`` and the
    x coordinate to ``(ts - win_start) div x_unit_us`` (small
    integers), so Sx/Sy/Sxy/Sxx are exact BIGINT sums and the OLS
    numerator/denominator ``n·Sxy − Sx·Sy`` / ``n·Sxx − Sx²`` are
    exact DECIMAL(38,0) (HUGEINT in the oracle) products — the slope
    and direction are engine-independent. Windows with fewer than
    ``min_n`` samples or zero x-variance (all samples in one x unit)
    are dropped (their slope is undefined).

    Output: (channel, win_start, n, slope, mean_value, direction)
    with slope in value units per x unit and direction the exact
    integer sign of the numerator.

    Plan: one groupBy (channel, win) with map-side partials — |rows|
    → |channels·windows|; embarrassingly parallel at any scale, no
    windows, no joins.
    """
    return finish_trend_segments(
        trend_moments(samples, win_us, x_unit_us, quant),
        quant=int(quant),
        min_n=min_n,
    )


def trend_moments(
    samples: DataFrame, win_us: int, x_unit_us: int, quant: int = 100
) -> DataFrame:
    """The per-(channel, window) OLS moment aggregation shared by
    :func:`trend_segments` and the streaming twin
    (streaming/trend.stream_trend_moments wraps this) — ONE
    definition so the batch==streaming bit-identity contract can't
    drift. Output: (channel, win_start, n, sx, sy, sxy, sxx)."""
    q = int(quant)
    wu, xu = int(win_us), int(x_unit_us)
    return (
        samples.select(
            "channel",
            F.expr(f"(ts div {wu}) * {wu}").alias("win_start"),
            F.expr(f"(ts - (ts div {wu}) * {wu}) div {xu}").alias("x"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("vq"),
        )
        .groupBy("channel", "win_start")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("vq").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("vq")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
    )


def finish_trend_segments(
    g: DataFrame, quant: int = 100, min_n: int = 2
) -> DataFrame:
    """The closed-form OLS finish over a (channel, win_start, n, sx,
    sy, sxy, sxx) moment table — shared by :func:`trend_segments` and
    the streaming drain (streaming/trend.py), so both paths evaluate
    the identical expressions over the identical exact integers."""
    q = int(quant)
    num = (
        "CAST(n AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0)) "
        "- CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))"
    )
    den = (
        "CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0)) "
        "- CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))"
    )
    return (
        g.withColumn("_num", F.expr(num))
        .withColumn("_den", F.expr(den))
        .filter((F.col("n") >= int(min_n)) & (F.col("_den") > 0))
        .select(
            "channel",
            "win_start",
            "n",
            F.expr(
                f"(CAST(_num AS DOUBLE) / CAST(_den AS DOUBLE)) / {q}"
            ).alias("slope"),
            F.expr(f"(CAST(sy AS DOUBLE) / {q}) / n").alias("mean_value"),
            F.expr(
                "CASE WHEN _num > 0 THEN 'rising' "
                "WHEN _num < 0 THEN 'falling' ELSE 'flat' END"
            ).alias("direction"),
        )
    )


# Shared expression text for granger_screen: __spark_entry__ imports
# these for the DuckDB oracle so both engines evaluate the IDENTICAL
# float op sequence over the identical BIGINT moments (the
# channel_cross_correlation determinism contract, with the moment
# algebra factored into named sub-expressions).
_G_A = (
    "(CAST(n AS DOUBLE) * CAST(sy1y1 AS DOUBLE) "
    "- CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE))"
)
_G_B = (
    "(CAST(n AS DOUBLE) * CAST(sy1x1 AS DOUBLE) "
    "- CAST(sy1 AS DOUBLE) * CAST(sx1 AS DOUBLE))"
)
_G_C = (
    "(CAST(n AS DOUBLE) * CAST(sx1x1 AS DOUBLE) "
    "- CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))"
)
_G_D = (
    "(CAST(n AS DOUBLE) * CAST(syy1 AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy1 AS DOUBLE))"
)
_G_E = (
    "(CAST(n AS DOUBLE) * CAST(syx1 AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sx1 AS DOUBLE))"
)
_G_F = (
    "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
    "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
)
G_BETA_AR = f"CASE WHEN {_G_A} > 0 THEN round({_G_D} / {_G_A}, 9) END"
G_DEN2 = f"({_G_A} * {_G_C} - {_G_B} * {_G_B})"
G_BETA_X = (
    f"CASE WHEN {G_DEN2} > 0 THEN "
    f"round(({_G_A} * {_G_E} - {_G_B} * {_G_D}) / {G_DEN2}, 9) END"
)
G_PARTIAL_R = (
    f"CASE WHEN {G_DEN2} > 0 AND ({_G_A} * {_G_F} - {_G_D} * {_G_D}) > 0 "
    f"THEN round(({_G_A} * {_G_E} - {_G_B} * {_G_D}) "
    f"/ (sqrt({G_DEN2}) * sqrt({_G_A} * {_G_F} - {_G_D} * {_G_D})), 9) END"
)


def granger_screen(
    values: DataFrame, step_us: int, quant: int = 100
) -> DataFrame:
    """Granger-style lead-lag causality screen on a uniform grid: for
    every DIRECTED channel pair x→y, regress y_t on (y_{t-1}, x_{t-1})
    and report whether x's past adds predictive power over y's own —
    the lag-1 Granger test's regression, reduced to closed form:

        beta_ar    AR(1)-only coefficient D/A (the restricted model)
        beta_x     x_{t-1}'s coefficient in the full model,
                   (AE − BD) / (AC − B²)
        partial_r  partial correlation of x_{t-1} with y_t given
                   y_{t-1}, (AE − BD) / sqrt((AC − B²)(AF − D²))

    with A..F the n²-scaled central co-moments of (y_t, y_{t-1},
    x_{t-1}). ``values`` must be a uniform ``step_us`` grid per
    channel (asof_locf output — the cross_correlation input contract).

    Determinism: the ten raw moments are exact quantized BIGINT sums
    (bound: n·(max|v|·quant)² < 2^63 — the CORR_QUANT/day-grid
    envelope); everything after is ONE fixed float expression per
    statistic (shared verbatim with the oracle via the G_* strings),
    rounded to 9 dp. Degenerate variances yield NULL explicitly.

    Output: (ch_src, ch_dst, n, beta_ar, beta_x, partial_r) — ch_src
    is the candidate driver x.

    Plan (100 TB): one ts-equi self-join on the already-aligned grid
    (all directed pairs share one shuffle on ts, the xcorr shape),
    then a map-side-partial groupBy to |pairs| rows; callers restrict
    the channel set (or pre-filter candidate pairs) when |channels|²
    outgrows the result budget.
    """
    q = int(quant)
    step = int(step_us)
    v = values.select(
        "channel",
        "ts",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    # v feeds three join legs (cur + two lag copies); pin the
    # upstream grid/LOCF pass once instead of recomputing it per
    # leg (graph.py/global_rank materialization pattern)
    v = pin(v)
    cur = v.select(
        F.col("channel").alias("ch_dst"), "ts", F.col("xq").alias("yq")
    )
    prv = v.select(
        "channel",
        (F.col("ts") + step).alias("ts"),
        F.col("xq").alias("lagq"),
    )
    yl = cur.join(
        prv.select(
            F.col("channel").alias("ch_dst"), "ts", F.col("lagq").alias("y1q")
        ),
        ["ch_dst", "ts"],
    )
    rows = yl.join(
        prv.select(
            F.col("channel").alias("ch_src"), "ts", F.col("lagq").alias("x1q")
        ),
        "ts",
    ).filter(F.col("ch_src") != F.col("ch_dst"))
    agg = rows.groupBy("ch_src", "ch_dst").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum("y1q").cast("long").alias("sy1"),
        F.sum("x1q").cast("long").alias("sx1"),
        F.sum(F.col("yq") * F.col("yq")).cast("long").alias("syy"),
        F.sum(F.col("y1q") * F.col("y1q")).cast("long").alias("sy1y1"),
        F.sum(F.col("x1q") * F.col("x1q")).cast("long").alias("sx1x1"),
        F.sum(F.col("yq") * F.col("y1q")).cast("long").alias("syy1"),
        F.sum(F.col("yq") * F.col("x1q")).cast("long").alias("syx1"),
        F.sum(F.col("y1q") * F.col("x1q")).cast("long").alias("sy1x1"),
    )
    return agg.select(
        "ch_src",
        "ch_dst",
        "n",
        F.expr(G_BETA_AR).alias("beta_ar"),
        F.expr(G_BETA_X).alias("beta_x"),
        F.expr(G_PARTIAL_R).alias("partial_r"),
    )


def density_grid(
    samples: DataFrame,
    t_bucket_us: int,
    v_lo: float,
    v_hi: float,
    v_bins: int,
) -> DataFrame:
    """2-D time×amplitude density rollup: per (channel, time bucket,
    value bin) sample counts — the heat-map display product (EEG
    review density plots, dashboard "waveform over months" views)
    where a line plot of raw samples would alias. The time-evolving
    extension of :func:`value_histogram`'s per-channel 1-D histogram.

    Out-of-range values clamp into the edge bins (the display
    convention: extremes stay visible at the border rather than
    vanishing). All arithmetic is integer bucketing on exact inputs —
    engine-identical.

    Output: (channel, t_bucket, bin, bin_lo, n).

    Scale: ONE map + partial-agg groupBy to |channels|×|buckets|×bins
    rows — embarrassingly parallel, no windows, no joins; the shape
    every rollup-serving path wants at 100 TB.
    """
    tb = int(t_bucket_us)
    nb = int(v_bins)
    w = (float(v_hi) - float(v_lo)) / nb
    raw_bin = f"CAST(floor((value - {v_lo!r}e0) / {w!r}e0) AS BIGINT)"
    clamped = (
        f"CASE WHEN {raw_bin} < 0 THEN 0 "
        f"WHEN {raw_bin} > {nb - 1} THEN {nb - 1} "
        f"ELSE {raw_bin} END"
    )
    return (
        samples.select(
            "channel",
            F.expr(f"(ts div {tb}) * {tb}").alias("t_bucket"),
            F.expr(clamped).alias("bin"),
        )
        .groupBy("channel", "t_bucket", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "channel",
            "t_bucket",
            "bin",
            F.expr(f"{v_lo!r}e0 + bin * {w!r}e0").alias("bin_lo"),
            "n",
        )
    )


def hurst_rs(
    samples: DataFrame,
    scales: tuple[int, ...] = (64, 128, 256, 512),
    quant: int = 10,
) -> DataFrame:
    """Hurst exponent per channel by rescaled-range (R/S) analysis
    (Hurst 1951; Mandelbrot & Wallis 1969) — the long-memory
    diagnostic (H≈0.5 memoryless, H>0.5 persistent/trending, H<0.5
    mean-reverting); a standard EEG/finance signal statistic.

    Per (channel, scale n, window): the cumulative deviation from the
    window mean scaled by n to stay integral (change_points' trick) —
    ``devq_i = n·S_i − i·S_n`` — gives the exact integer range
    ``Rq = max(devq) − min(devq)``, and the population variance
    scales to the exact integer ``den2 = n·Sxx − Sx²``; the classic
    ratio collapses to

        R/S = Rq / sqrt(den2)

    (both n·quant scalings cancel) — ONE float division over two
    exact integers. Per (channel, scale) the window R/S values are
    1e-6-quantized before averaging (exact integer sum), and H is the
    zipf_fit-class quantized-OLS slope of ln(mean R/S) against ln(n).

    Overflow bound: n·Sxx ≤ n²·(max|v|·quant)² must stay under 2^63
    — quant=10 bounds |v| ≤ ~6e5 at n = 512.

    Output: (channel, n_scales, hurst, intercept). Scales without a
    complete window (or with zero variance) drop out; channels with
    < 2 surviving scales emit NULL hurst.

    Plan: ONE row-ranking window per channel, a narrow ×|scales|
    explode, per-(channel, scale, win) window pass (cum + totals
    share one partitioning), then two map-side-partial rollups down
    to |channels| rows. No joins, no single-task windows.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.select(
        "channel",
        "ts",
        "value",
        (F.row_number().over(w) - 1).alias("rn"),
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    arr = ", ".join(str(int(n)) for n in scales)
    ex = ranked.select(
        "channel",
        "rn",
        "xq",
        F.explode(F.expr(f"array({arr})")).alias("scale"),
    ).select(
        "channel",
        F.col("scale").cast("long").alias("scale"),
        (F.col("rn") / F.col("scale")).cast("long").alias("win"),
        (F.col("rn") % F.col("scale")).alias("pos"),
        "xq",
    )
    cum = (
        Window.partitionBy("channel", "scale", "win")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = Window.partitionBy("channel", "scale", "win")
    d = (
        ex.withColumn("s_i", F.sum("xq").over(cum).cast("long"))
        .withColumn("i", (F.col("pos") + 1).cast("long"))
        .withColumn("s_n", F.sum("xq").over(full).cast("long"))
        .withColumn(
            "sxx", F.sum(F.col("xq") * F.col("xq")).over(full).cast("long")
        )
        .withColumn("nw", F.count(F.lit(1)).over(full).cast("long"))
    )
    g = (
        d.filter(F.col("nw") == F.col("scale"))
        .withColumn(
            "devq",
            (F.col("scale") * F.col("s_i") - F.col("i") * F.col("s_n")).cast(
                "long"
            ),
        )
        .groupBy("channel", "scale", "win")
        .agg(
            (F.max("devq") - F.min("devq")).cast("long").alias("rq"),
            (
                F.max(F.col("scale") * F.col("sxx") - F.col("s_n") * F.col("s_n"))
            )
            .cast("long")
            .alias("den2"),
        )
        .filter(F.col("den2") > 0)
        .withColumn(
            "rsq",
            F.expr(
                "CAST(round((CAST(rq AS DOUBLE) "
                "/ sqrt(CAST(den2 AS DOUBLE))) * 1000000) AS BIGINT)"
            ),
        )
    )
    sc = g.groupBy("channel", "scale").agg(
        F.count(F.lit(1)).cast("long").alias("n_w"),
        F.sum("rsq").cast("long").alias("srs"),
    ).filter(F.col("srs") > 0)  # ln() guard: a scale whose every
    # window R/S rounds to zero (pathologically coarse quantization)
    # would feed ln(0) -> -inf -> ANSI cast error; dropped identically
    # in the oracle
    pts = sc.select(
        "channel",
        F.expr(
            "CAST(round(round(ln(CAST(scale AS DOUBLE)), 9) * 1000) "
            "AS BIGINT)"
        ).alias("xp"),
        F.expr(
            "CAST(round(round(ln((CAST(srs AS DOUBLE) / 1000000) / n_w), 9)"
            " * 1000) AS BIGINT)"
        ).alias("yp"),
    )
    agg = pts.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_scales"),
        F.sum("xp").cast("long").alias("sx"),
        F.sum("yp").cast("long").alias("sy"),
        F.sum(F.col("xp") * F.col("yp")).cast("long").alias("sxy"),
        F.sum(F.col("xp") * F.col("xp")).cast("long").alias("sxx"),
    )
    slope = (
        "(CAST(n_scales AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(CAST(n_scales AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    guard = (
        "n_scales >= 2 AND CAST(n_scales AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0"
    )
    return agg.select(
        "channel",
        "n_scales",
        F.expr(
            f"CASE WHEN {guard} THEN round({slope}, 9) END"
        ).alias("hurst"),
        F.expr(
            f"CASE WHEN {guard} THEN "
            f"round((CAST(sy AS DOUBLE) / 1000 - round({slope}, 9) "
            f"* CAST(sx AS DOUBLE) / 1000) / n_scales, 9) END"
        ).alias("intercept"),
    )


def ar2_exprs(quant: int) -> dict[str, str]:
    """The AR(2) Yule-Walker closed-form expression strings, shared
    verbatim between the Spark operator and the DuckDB oracle (the
    granger G_* structural-identity discipline). Inputs are the nine
    exact BIGINT moment columns (n, sy, s0, n1, s1, sa1, sb1, n2, s2,
    sa2, sb2); ``quant`` scales sigma2 back to value units."""
    q = int(quant)
    m = "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    c0 = f"((CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE)) - {m} * {m})"
    c1 = (
        f"((CAST(s1 AS DOUBLE) - {m} * (CAST(sa1 AS DOUBLE) "
        f"+ CAST(sb1 AS DOUBLE)) + CAST(n1 AS DOUBLE) * {m} * {m}) "
        "/ CAST(n AS DOUBLE))"
    )
    c2 = (
        f"((CAST(s2 AS DOUBLE) - {m} * (CAST(sa2 AS DOUBLE) "
        f"+ CAST(sb2 AS DOUBLE)) + CAST(n2 AS DOUBLE) * {m} * {m}) "
        "/ CAST(n AS DOUBLE))"
    )
    den = f"({c0} * {c0} - {c1} * {c1})"
    phi1_raw = f"({c1} * ({c0} - {c2}) / {den})"
    phi2_raw = f"(({c0} * {c2} - {c1} * {c1}) / {den})"
    guard = f"n >= 3 AND {den} > 0"
    return {
        "phi1": f"CASE WHEN {guard} THEN round({phi1_raw}, 9) END",
        "phi2": f"CASE WHEN {guard} THEN round({phi2_raw}, 9) END",
        # sigma2 is ~(value range)² — far too large for round(·, 9)
        # (9-dp rounding below the double's ulp is engine-dependent;
        # the ts_value_histogram hazard class), so it ships as an
        # exact BIGINT in milli-value-units² instead
        "sigma2_q": (
            f"CASE WHEN {guard} THEN "
            f"CAST(round(({c0} - {phi1_raw} * {c1} - {phi2_raw} * {c2}) "
            f"/ ({q}.0 * {q}.0) * 1000) AS BIGINT) END"
        ),
    }


def ar2_yule_walker(values: DataFrame, quant: int = 100) -> DataFrame:
    """Per-channel AR(2) model by Yule-Walker (Yule 1927; Walker
    1931): solve

        [c0 c1] [phi1]   [c1]
        [c1 c0] [phi2] = [c2]

    for the lag-1/lag-2 autoregressive coefficients, with c_k the
    biased (1/n) sample autocovariances of the uniform-grid series —
    the classic "how much does the channel's own recent past explain
    it" model, and the order-2 extension of :func:`granger_screen`'s
    restricted AR(1). ``sigma2_q`` is the innovation variance
    c0 − phi1·c1 − phi2·c2 in milli-value-units² (exact BIGINT — the
    magnitude is too large for stable 9-dp rounding) — the
    one-step-ahead forecast error floor.

    ``values`` must be a uniform per-channel grid (asof_locf output,
    the granger/xcorr input contract).

    Determinism: eleven exact quantized-BIGINT moments (overflow
    envelope: n·(max|v|·quant)² < 2^63 — the CORR_QUANT day-grid
    envelope), then ONE fixed float expression per statistic, shared
    verbatim with the oracle via :func:`ar2_exprs`, rounded to 9 dp.
    Degenerate series (n < 3 or zero variance) yield NULL explicitly.

    Output: (channel, n, phi1, phi2, sigma2_q).

    Plan (100 TB): two lag windows per channel over the bounded grid
    (one partitioning, no joins), then a map-side-partial groupBy to
    |channels| rows.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts")
    d = (
        values.select(
            "channel",
            "ts",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("yq"),
        )
        .withColumn("y1", F.lag("yq", 1).over(w))
        .withColumn("y2", F.lag("yq", 2).over(w))
    )
    z = F.lit(0).cast("long")
    agg = d.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("yq") * F.col("yq")).cast("long").alias("s0"),
        F.count("y1").cast("long").alias("n1"),
        F.coalesce(F.sum(F.col("yq") * F.col("y1")), z)
        .cast("long")
        .alias("s1"),
        F.coalesce(F.sum(F.when(F.col("y1").isNotNull(), F.col("yq"))), z)
        .cast("long")
        .alias("sb1"),
        F.coalesce(F.sum("y1"), z).cast("long").alias("sa1"),
        F.count("y2").cast("long").alias("n2"),
        F.coalesce(F.sum(F.col("yq") * F.col("y2")), z)
        .cast("long")
        .alias("s2"),
        F.coalesce(F.sum(F.when(F.col("y2").isNotNull(), F.col("yq"))), z)
        .cast("long")
        .alias("sb2"),
        F.coalesce(F.sum("y2"), z).cast("long").alias("sa2"),
    )
    e = ar2_exprs(q)
    return agg.select(
        "channel",
        "n",
        F.expr(e["phi1"]).alias("phi1"),
        F.expr(e["phi2"]).alias("phi2"),
        F.expr(e["sigma2_q"]).alias("sigma2_q"),
    )


def sampen_counts(x: "np.ndarray", m: int, r: int) -> tuple[int, int]:
    """Exact SampEn template-match counts for one window: over starts
    i<j in 0..n−m−1, B = #(chebyshev distance of the length-m
    templates ≤ r), A = same for length m+1. Integer comparisons only
    — the kernel both the Spark path and the goldens call."""
    import numpy as np

    n = len(x)
    nt = n - m  # common start range 0..n-m-1 for both lengths
    if nt < 2:
        return 0, 0
    d0 = np.abs(x[:, None] - x[None, :])

    def cheb(length: int) -> np.ndarray:
        s = n - length + 1  # starts 0..n-length
        c = d0[:s, :s]
        for k in range(1, length):
            c = np.maximum(c, d0[k : k + s, k : k + s])
        return c

    cms = cheb(m)[:nt, :nt]
    cm1 = cheb(m + 1)  # already exactly nt×nt
    iu = np.triu_indices(nt, k=1)
    b = int((cms[iu] <= r).sum())
    a = int((cm1[iu] <= r).sum())
    return b, a


def sample_entropy(
    samples: DataFrame,
    window_samples: int = 128,
    m: int = 2,
    r_frac: float = 0.2,
    quant: int = 100,
) -> DataFrame:
    """Sample entropy per (channel, window) (Richman & Moorman 2000)
    — THE standard EEG/HRV signal-complexity measure:

        SampEn(m, r) = −ln(A / B)

    with B the count of start pairs whose length-m templates match
    within Chebyshev tolerance r and A the same for length m+1. Low
    SampEn = self-similar/regular signal; high = unpredictable.

    Tolerance: the classic convention is r = 0.2·std; to stay
    engine-exact this uses the bit-exact per-channel IQR instead —
    ``r_q = round(r_frac · (p75 − p25) · quant)`` from
    :func:`channel_percentiles`' explicit order statistics — an
    integer Chebyshev gate (documented IQR variant; IQR ≈ 1.35·std
    for Gaussian data, so r_frac keeps its usual meaning).

    Determinism: quantized BIGINT values, integer distance
    comparisons, exact integer counts; the only float is the final
    −ln(A/B), one fixed expression rounded to 9 dp. Incomplete
    trailing windows are dropped (the dft_sums contract); windows
    with A = 0 or B = 0 emit NULL sampen explicitly.

    Output: (channel, win, n, r_q, b_count, a_count, sampen).

    Scale: one ranking window per channel + a broadcast |channels|-row
    tolerance join; the O(W²) match count runs per (channel, window)
    inside Arrow batches — embarrassingly parallel, W fixed at 128.
    """
    import numpy as np
    import pandas as pd

    ws = int(window_samples)
    q = int(quant)
    mm = int(m)
    pct = channel_percentiles(samples, (0.25, 0.75)).select(
        "channel",
        F.expr(
            f"CAST(round({float(r_frac)} * (p75 - p25) * {q}) AS BIGINT)"
        ).alias("r_q"),
    )
    w = Window.partitionBy("channel").orderBy("ts", "value")
    wins_per_batch = 64  # Arrow-group grain: per-(channel, window)
    # groups pay ~1 ms of pandas overhead each, which dominates at
    # scale (measured: 47k windows → 51 s); batching 64 windows per
    # group amortizes it while keeping |channels|×|blocks| parallelism
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
        .withColumn("_blk", (F.col("win") / wins_per_batch).cast("long"))
        .join(F.broadcast(pct), "channel")
    )

    def run(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        rq = int(pdf["r_q"].iloc[0])
        pdf = pdf.sort_values(["win", "pos"])
        chans, wins, bs, as_ = [], [], [], []
        for win, g in pdf.groupby("win", sort=True):
            if len(g) != ws:  # ragged tail window
                continue
            b, a = sampen_counts(
                g["xq"].to_numpy(dtype=np.int64), mm, rq
            )
            chans.append(key[0])
            wins.append(int(win))
            bs.append(b)
            as_.append(a)
        return pd.DataFrame(
            {
                "channel": pd.Series(chans, dtype=str),
                "win": pd.Series(wins, dtype="int64"),
                "n": pd.Series([ws] * len(wins), dtype="int64"),
                "r_q": pd.Series([rq] * len(wins), dtype="int64"),
                "b_count": pd.Series(bs, dtype="int64"),
                "a_count": pd.Series(as_, dtype="int64"),
            }
        )

    counts = ranked.groupBy("channel", "_blk").applyInPandas(
        run,
        schema=(
            "channel string, win long, n long, r_q long, "
            "b_count long, a_count long"
        ),
    )
    return counts.withColumn(
        "sampen",
        F.expr(
            "CASE WHEN a_count > 0 AND b_count > 0 THEN "
            "round(-ln(CAST(a_count AS DOUBLE) "
            "/ CAST(b_count AS DOUBLE)), 9) END"
        ),
    )


def seasonal_decompose(
    values: DataFrame, step_us: int, period: int = 7, quant: int = 100
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method of Macaulay 1931 — STL's simpler ancestor) on a uniform
    per-channel grid:

        trend_t    = centered ``period``-point moving average
        seasonal_p = mean over the channel of (y_t − trend_t) at
                     phase p = (t/step) mod period
        resid_t    = y_t − trend_t − seasonal_t

    — the day-of-week (period=7 on the day grid) decomposition every
    monitoring dashboard draws; the residual is what the anomaly
    operators should be fed (a Monday spike is seasonality, not an
    incident).

    Determinism: the moving sum and the n-scaled detrended value
    ``dq = period·yq − S`` are exact BIGINTs (change_points' scaling
    trick — no division inside the aggregation); phase means are
    exact integer sums; trend/seasonal/resid are fixed float
    expressions over those integers, rounded to 9 dp, with resid
    derived from the ROUNDED components so the decomposition adds up
    exactly on the emitted values. Edge rows without a complete
    centered window drop out (explicit contract).

    Output: (channel, ts, phase, trend, seasonal, resid).

    Plan: one per-channel centered-window pass + a |channels|×period
    phase table joined back broadcast — two scans' worth of work, no
    data-scale shuffle beyond the per-channel partitioning.
    """
    q = int(quant)
    P = int(period)
    step = int(step_us)
    half = P // 2
    wm = (
        Window.partitionBy("channel")
        .orderBy("ts")
        .rowsBetween(-half, half)
    )
    d = (
        values.select(
            "channel",
            "ts",
            "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("yq"),
        )
        .withColumn("st", F.sum("yq").over(wm).cast("long"))
        .withColumn("nw", F.count("yq").over(wm).cast("long"))
        .filter(F.col("nw") == P)
        .withColumn("dq", (P * F.col("yq") - F.col("st")).cast("long"))
        .withColumn("phase", F.expr(f"(ts div {step}) % {P}").cast("long"))
    )
    seas = d.groupBy("channel", "phase").agg(
        F.sum("dq").cast("long").alias("sdq"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    trend = f"round(CAST(st AS DOUBLE) / ({P} * {q}), 9)"
    seasonal = (
        f"round(CAST(sdq AS DOUBLE) / (CAST(c AS DOUBLE) * {P} * {q}), 9)"
    )
    return (
        d.join(F.broadcast(seas), ["channel", "phase"])
        .select(
            "channel",
            "ts",
            "phase",
            F.expr(trend).alias("trend"),
            F.expr(seasonal).alias("seasonal"),
            F.expr(
                f"round(value - {trend} - {seasonal}, 9)"
            ).alias("resid"),
        )
    )


def hjorth_parameters(
    samples: DataFrame, window_samples: int = 128, quant: int = 100
) -> DataFrame:
    """Hjorth parameters per (channel, window) (Hjorth 1970) — THE
    classic EEG descriptor triple, computed from the variances of the
    signal and its first/second differences:

        activity   = var(x)            (signal power)
        mobility   = sqrt(var(Δx) / var(x))      (mean frequency proxy)
        complexity = mobility(Δx) / mobility(x)  (bandwidth proxy)

    Determinism: six exact BIGINT sums per window (quantized values
    and their exact integer first/second differences via in-window
    lags); mobility/complexity are O(1) ratios — fixed float
    expressions rounded to 9 dp; activity is value²-scale (too large
    for stable 9-dp rounding — the ar2 sigma2 rule) and ships as
    BIGINT milli-units. Zero-variance guards yield NULL explicitly.
    Ragged tail windows are dropped.

    Output: (channel, win, n, activity_mq, mobility, complexity).

    Plan: one row-ranking window per channel + two in-window lags on
    the same partitioning + one partial-agg groupBy to
    |channels|×|windows| rows.
    """
    ws = int(window_samples)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
    )
    iw = Window.partitionBy("channel", "win").orderBy("pos")
    d = ranked.withColumn(
        "d1", F.col("xq") - F.lag("xq").over(iw)
    ).withColumn("d2", F.col("d1") - F.lag("d1").over(iw))
    z = F.lit(0).cast("long")
    g = d.groupBy("channel", "win").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("s0"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("ss0"),
        F.count("d1").cast("long").alias("n1"),
        F.coalesce(F.sum("d1"), z).cast("long").alias("s1"),
        F.coalesce(F.sum(F.col("d1") * F.col("d1")), z)
        .cast("long")
        .alias("ss1"),
        F.count("d2").cast("long").alias("n2"),
        F.coalesce(F.sum("d2"), z).cast("long").alias("s2"),
        F.coalesce(F.sum(F.col("d2") * F.col("d2")), z)
        .cast("long")
        .alias("ss2"),
    ).filter(F.col("n") == ws)
    v0 = (
        "((CAST(n AS DOUBLE) * CAST(ss0 AS DOUBLE) "
        "- CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    )
    v1 = (
        "((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
        "/ (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)))"
    )
    v2 = (
        "((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE) "
        "- CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) "
        "/ (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
    )
    return g.select(
        "channel",
        "win",
        "n",
        F.expr(
            f"CAST(round({v0} / ({q}.0 * {q}.0) * 1000) AS BIGINT)"
        ).alias("activity_mq"),
        F.expr(
            f"CASE WHEN {v0} > 0 THEN round(sqrt({v1} / {v0}), 9) END"
        ).alias("mobility"),
        F.expr(
            f"CASE WHEN {v0} > 0 AND {v1} > 0 THEN "
            f"round(sqrt({v2} / {v1}) / sqrt({v1} / {v0}), 9) END"
        ).alias("complexity"),
    )


def line_length_features(
    samples: DataFrame, window_samples: int = 128, quant: int = 100
) -> DataFrame:
    """Line length + zero-crossing rate per (channel, window) — the
    two cheapest and most-used EEG seizure-screen features (line
    length, a.k.a. "coastline", is Esteller et al. 2001's accumulated
    |Δx|; ZCR is the classic dominant-frequency proxy). The reference
    serves raw/downsampled signal only (`TimeSeriesQueryService`) and
    leaves feature extraction to clients; at 100 TB these run where
    the data lives.

    Determinism: quantized values ⇒ the per-window line length is an
    exact BIGINT sum of |Δxq| (order-free); crossings are counted
    about the CHANNEL MEDIAN (the standard centering for signals with
    DC offset — a raw all-positive signal has zero literal
    zero-crossings), where the median is the k-th-smallest xq order
    statistic (k = ⌊(n+1)/2⌋ — one exact integer, no even-count
    averaging) and a crossing is the strict integer sign flip
    (xq_prev − med)·(xq − med) < 0 (touching the median never
    counts); the float columns are single fixed divisions. Envelope:
    the crossing product (xq−med)·(xq_prev−med) binds — safe to
    |value| ≈ 1.5e7 at quant=100 (the line-length sum is safe far
    beyond that).

    Output: (channel, win, n, ll_q, line_length, crossings, zcr);
    ragged tail windows are dropped (the hjorth rule).

    Plan: two per-channel window passes (position rank; median order
    statistic over a |channels|-row broadcast) + one in-window lag +
    one partial-agg groupBy to |channels|×|windows| rows — the
    hjorth_parameters shape plus the burst_suppression threshold
    table.
    """
    ws = int(window_samples)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
    )
    aw = Window.partitionBy("channel").orderBy("xq", "ts", "value")
    cnt = ranked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    med = (
        ranked.withColumn("_ar", F.row_number().over(aw).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(F.expr("_ar = (_n + 1) div 2"))
        .select("channel", F.col("xq").alias("med_q"))
    )
    iw = Window.partitionBy("channel", "win").orderBy("pos")
    d = (
        ranked.join(F.broadcast(med), "channel")
        .withColumn("_prev", F.lag("xq").over(iw))
    )
    z = F.lit(0).cast("long")
    g = (
        d.groupBy("channel", "win")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum(F.abs(F.col("xq") - F.col("_prev"))), z)
            .cast("long")
            .alias("ll_q"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("_prev") - F.col("med_q"))
                        * (F.col("xq") - F.col("med_q"))
                        < 0,
                        1,
                    ).otherwise(0)
                ),
                z,
            )
            .cast("long")
            .alias("crossings"),
        )
        .filter(F.col("n") == ws)
    )
    return g.select(
        "channel",
        "win",
        "n",
        "ll_q",
        F.expr(f"CAST(ll_q AS DOUBLE) / {q}").alias("line_length"),
        "crossings",
        F.expr("CAST(crossings AS DOUBLE) / (n - 1)").alias("zcr"),
    )


def tkeo_energy(
    samples: DataFrame, window_samples: int = 128, quant: int = 100
) -> DataFrame:
    """Mean Teager-Kaiser energy per (channel, window) — the
    nonlinear energy operator ψ[x]ₙ = xₙ² − xₙ₋₁·xₙ₊₁ (Kaiser 1990),
    the standard EEG/EMG spike-detection preprocessor: unlike plain
    power it weights amplitude AND instantaneous frequency, so brief
    high-frequency transients stand out. Complements
    `operators/spikes.py` (which extracts waveforms around
    already-detected events) by computing the detection signal itself.

    Determinism: ψ on quantized values is exact BIGINT per position
    (xq² − prev·next), the window sum is an exact order-free BIGINT
    sum over the ws−2 interior positions, and the mean ships as
    BIGINT milli-units of value² (the hjorth activity / ar2 sigma2
    magnitude rule — value²-scale floats don't round stably at 9 dp).
    Envelope: |ψ| ≤ 2·max|xq|² ⇒ sums safe to |value| ≈ 2e7 at
    quant=100 — wider signals need a smaller quant.

    Output: (channel, win, n_valid, tkeo_sum_q, tkeo_mq).

    Plan: per-channel ranking window + lag/lead on the in-window
    partitioning + one partial-agg groupBy — hjorth's shape.
    """
    ws = int(window_samples)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
    )
    iw = Window.partitionBy("channel", "win").orderBy("pos")
    d = ranked.withColumn(
        "_psi",
        F.col("xq") * F.col("xq")
        - F.lag("xq").over(iw) * F.lead("xq").over(iw),
    )
    g = (
        ranked.groupBy("channel", "win")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") == ws)
        .drop("n")
        .join(
            d.groupBy("channel", "win").agg(
                F.count("_psi").cast("long").alias("n_valid"),
                F.coalesce(F.sum("_psi"), F.lit(0).cast("long"))
                .cast("long")
                .alias("tkeo_sum_q"),
            ),
            ["channel", "win"],
        )
    )
    return g.select(
        "channel",
        "win",
        "n_valid",
        "tkeo_sum_q",
        F.expr(
            f"CAST(round(CAST(tkeo_sum_q AS DOUBLE) "
            f"/ ({q}.0 * {q}.0) / n_valid * 1000) AS BIGINT)"
        ).alias("tkeo_mq"),
    )


def burst_suppression(
    samples: DataFrame,
    window_samples: int = 128,
    quant: int = 100,
    min_run: int = 4,
) -> DataFrame:
    """Burst-suppression ratio per (channel, window) — the anesthesia
    /coma EEG monitor metric: the fraction of each window's samples
    that lie inside a SUPPRESSION run (≥ ``min_run`` consecutive
    samples with amplitude below half the channel's median |value|).
    Isolated low-amplitude samples are not suppression; the run-length
    requirement is what distinguishes BSR from a plain histogram.

    Determinism — all-integer end to end: the threshold is an order
    statistic (k-th smallest |xq|, k = ⌊(n+1)/2⌋ — a single exact
    integer both engines agree on, no even-count averaging), the
    "below half" test is the integer comparison 2·|xq| < med_q, runs
    come from gaps-and-islands arithmetic on exact row numbers, and
    run lengths / counts are exact integer aggregates. The only float
    is the final fixed division.

    Output: (channel, win, n, suppressed_n, bsr). All windows emit
    (ragged tail included — suppression at the recording tail is
    clinically the interesting part). Runs may cross window
    boundaries; each window counts its own member samples.

    Plan: two per-channel window passes (global rank; islands grouping
    over the suppressed subset) + two partial-agg groupBys. The
    per-channel threshold table is |channels| rows, broadcast back.
    """
    ws = int(window_samples)
    q = int(quant)
    mr = int(min_run)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.select(
        "channel",
        "ts",
        "value",
        (F.row_number().over(w) - 1).alias("_rn"),
        F.expr(f"abs(CAST(round(value * {q}) AS BIGINT))").alias("aq"),
    )
    aw = Window.partitionBy("channel").orderBy("aq", "ts", "value")
    cnt = ranked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    med = (
        ranked.withColumn("_ar", F.row_number().over(aw).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(F.expr("_ar = (_n + 1) div 2"))
        .select("channel", F.col("aq").alias("med_q"))
    )
    flg = ranked.join(F.broadcast(med), "channel").withColumn(
        "_supp", F.expr("2 * aq < med_q")
    )
    sw = Window.partitionBy("channel", "_supp").orderBy("_rn")
    grp = flg.withColumn(
        "_grp",
        F.when(F.col("_supp"), F.col("_rn") - F.row_number().over(sw)),
    )
    rw = Window.partitionBy("channel", "_grp")
    marked = grp.withColumn(
        "_in_run",
        F.col("_supp") & (F.count(F.lit(1)).over(rw) >= mr),
    )
    g = marked.withColumn("win", (F.col("_rn") / ws).cast("long")).groupBy(
        "channel", "win"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("_in_run").cast("long")).cast("long").alias(
            "suppressed_n"
        ),
    )
    return g.select(
        "channel",
        "win",
        "n",
        "suppressed_n",
        F.expr("CAST(suppressed_n AS DOUBLE) / n").alias("bsr"),
    )


# Ordinal pattern of a (a, b, c) triple under POSITION-STABLE ranking
# (ties broken by earlier index first, the Bandt-Pompe convention for
# quantized data): pure integer comparisons, shared verbatim with the
# DuckDB oracle so both engines classify identically. The cascade is
# exhaustive over the 6 permutations; a NULL c (window tail) yields
# NULL, never ELSE.
PE_PATTERN_T = (
    "CASE WHEN {c} IS NULL THEN NULL "
    "WHEN {a} <= {b} AND {b} <= {c} THEN 0 "
    "WHEN {a} <= {b} AND {a} <= {c} THEN 1 "
    "WHEN {a} <= {b} THEN 2 "
    "WHEN {a} <= {c} THEN 3 "
    "WHEN {b} <= {c} THEN 4 ELSE 5 END"
)

# ln(3!) as a PYTHON-evaluated literal so both engines normalize by
# the bit-identical double (the power_spectrum literal-table rule).
PE_LN6 = repr(__import__("math").log(6.0))

# Normalized Shannon entropy over the 6 pattern counts c0..c5 with
# nt = c0+..+c5 triples: the nano-nat integer-sum class
# (markov_entropy) — each term's ln is 1e9-quantized to BIGINT so the
# 6-term fold is exact integer arithmetic, then ONE fixed float
# division chain. Envelope: |w| <= ln(nt)*1e9 and c_i <= nt, so the
# sum binds at nt*ln(nt)*1e9 — safe to nt ~ 4e8 triples per window
# (windows are 128 samples; never approached).
_PE_TERMS = " + ".join(
    f"(CASE WHEN c{i} > 0 THEN c{i} * CAST(round(ln(CAST(c{i} AS DOUBLE)"
    f" / nt) * 1000000000) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for i in range(6)
)
PE_NORM = (
    f"CASE WHEN nt > 0 THEN -CAST(({_PE_TERMS}) AS DOUBLE) "
    f"/ (CAST(nt AS DOUBLE) * 1000000000.0 * {PE_LN6}) END"
)


def permutation_entropy(
    samples: DataFrame, window_samples: int = 128, quant: int = 100
) -> DataFrame:
    """Permutation entropy per (channel, window) — Bandt & Pompe
    (2002)'s ordinal-pattern complexity, the standard
    anesthesia-depth / seizure EEG measure next to SampEn and the
    Hjorth triple: embed each window as overlapping order-3 triples,
    count the 6 ordinal patterns, and take the normalized Shannon
    entropy of the pattern distribution (1 = white noise, 0 = strict
    monotone). Robust to amplitude scaling and offset by
    construction — only comparisons enter. The reference serves raw
    signal only (`TimeSeriesQueryService`); at 100 TB the complexity
    screen runs where the data lives.

    Determinism: patterns are integer comparisons on quantized values
    with position-stable tie-breaks (PE_PATTERN_T, shared verbatim
    with the oracle); counts are exact integer aggregates; the
    entropy is the nano-nat integer fold (PE_NORM — markov_entropy's
    class) with ln(6) as a Python-evaluated literal, so both engines
    emit the bit-identical double.

    Output: (channel, win, n, nt, c0..c5, pe_norm); ragged tail
    windows are dropped (the hjorth rule). Triples never cross window
    boundaries (each window is classified standalone).

    Plan: one per-channel window pass (position rank), two in-window
    leads, one partial-agg groupBy to |channels|x|windows| rows — the
    line_length shape without the median side-table.
    """
    ws = int(window_samples)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
    )
    iw = Window.partitionBy("channel", "win").orderBy("pos")
    t = (
        ranked.withColumn("_b", F.lead("xq", 1).over(iw))
        .withColumn("_c", F.lead("xq", 2).over(iw))
        .withColumn(
            "_pat",
            F.expr(PE_PATTERN_T.format(a="xq", b="_b", c="_c")),
        )
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("_pat").cast("long").alias("nt"),
    ]
    for i in range(6):
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("_pat") == i, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias(f"c{i}")
        )
    g = t.groupBy("channel", "win").agg(*aggs).filter(F.col("n") == ws)
    return g.select(
        "channel",
        "win",
        "n",
        "nt",
        *[f"c{i}" for i in range(6)],
        F.expr(PE_NORM).alias("pe_norm"),
    )


def lz76_phrase_count(bits: str) -> int:
    """Exhaustive-history LZ76 phrase count (Lempel & Ziv 1976, via
    the production parsing of Kaspar & Schuster 1987): each phrase is
    the shortest extension not occurring as a substring of everything
    before its END (self-overlap allowed); the trailing phrase counts
    even when reproducible. The kernel the Spark path, the goldens,
    and (re-expressed as a recursive CTE) the DuckDB oracle all
    share semantically.
    """
    n = len(bits)
    p = 0
    c = 0
    while p < n:
        L = 1
        while p + L <= n and bits[p : p + L] in bits[: p + L - 1]:
            L += 1
        c += 1
        p += min(L, n - p)
    return c


def lz_complexity(
    samples: DataFrame, window_samples: int = 128, quant: int = 100
) -> DataFrame:
    """Lempel-Ziv complexity per (channel, window) — the EEG
    compressibility measure (Lempel & Ziv 1976; the standard
    anesthesia/consciousness-level metric next to permutation
    entropy and BSR): binarize the window about its own median and
    count LZ76 phrases; random signals approach n/log2(n) phrases,
    regular ones stay near 2.

    Determinism — all-integer until one fixed division: quantized
    BIGINT values; the binarization threshold is the window's LOWER
    MEDIAN order statistic (k = (ws+1) div 2-th smallest, one exact
    integer, no even-count averaging) with ties-to-zero (xq > med);
    the phrase count is exact integer string parsing (the kernel
    above, replayed phrase-by-phrase by the oracle's recursive CTE);
    the normalized score is c · log2(ws) / n with log2(ws) a
    Python-evaluated literal.

    Output: (channel, win, n, ones, c_phrases, lz_norm); ragged tail
    windows are dropped (the hjorth rule).

    Scale: one per-channel ranking window, then the parsing runs per
    (channel, 64-window block) inside Arrow batches (the
    sample_entropy grain — ~1 ms pandas overhead amortized over 64
    windows); embarrassingly parallel, O(c·n²) string work bounded by
    ws = 128.
    """
    import numpy as np
    import pandas as pd

    ws = int(window_samples)
    q = int(quant)
    kmed = (ws + 1) // 2
    w = Window.partitionBy("channel").orderBy("ts", "value")
    wins_per_batch = 64
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
        .withColumn("_blk", (F.col("win") / wins_per_batch).cast("long"))
    )

    def run(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["win", "pos"])
        wins, ones, cs = [], [], []
        for win, g in pdf.groupby("win", sort=True):
            if len(g) != ws:
                continue
            xq = g["xq"].to_numpy(dtype=np.int64)
            med = int(np.sort(xq)[kmed - 1])
            b = (xq > med).astype(np.uint8)
            bits = "".join("1" if v else "0" for v in b)
            wins.append(int(win))
            ones.append(int(b.sum()))
            cs.append(lz76_phrase_count(bits))
        return pd.DataFrame(
            {
                "channel": pd.Series([key[0]] * len(wins), dtype=str),
                "win": pd.Series(wins, dtype="int64"),
                "n": pd.Series([ws] * len(wins), dtype="int64"),
                "ones": pd.Series(ones, dtype="int64"),
                "c_phrases": pd.Series(cs, dtype="int64"),
            }
        )

    counts = ranked.groupBy("channel", "_blk").applyInPandas(
        run,
        schema="channel string, win long, n long, ones long, c_phrases long",
    )
    log2ws = repr(__import__("math").log2(ws))
    return counts.withColumn(
        "lz_norm",
        F.expr(f"CAST(c_phrases AS DOUBLE) * {log2ws} / n"),
    )


def lb_q_expr(h: int) -> str:
    """The Ljung-Box Q statistic as ONE fixed float expression over
    the pivoted per-lag columns (r1..rh 9-dp-rounded ACFs, n1..nh
    exact overlap counts) and n_total — shared verbatim with the
    oracle. Term order is the lag order, so the h-term float fold is
    deterministic."""
    terms = " + ".join(f"r{k} * r{k} / n{k}" for k in range(1, int(h) + 1))
    return (
        f"CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 2) "
        f"* ({terms})"
    )


LB_CRIT_5 = "11.070"  # chi-square(5) 95% critical value literal


def ljung_box_whiteness(
    values: DataFrame,
    lags_us: tuple,
    quant: int = 100,
) -> DataFrame:
    """Ljung-Box portmanteau whiteness test per channel (Ljung & Box
    1978) over a CONTIGUOUS uniform grid (the locf_day_grid
    contract): Q = n(n+2)·Σ_k r_k²/(n−k); Q above the chi-square(h)
    critical value rejects "white noise" — the standard residual
    diagnostic after any of the model fits in this family (AR(2),
    Holt, seasonal decompose).

    Variant note (documented): r_k is the PAIRWISE-PEARSON lagged
    autocorrelation :func:`channel_autocorrelation` computes (exact
    quantized sums, 9-dp rounding), not the fixed-full-series-mean
    estimator — identical under stationarity to O(1/n), and
    engine-exact where the classical form's n²-scaled integer sums
    would overflow BIGINT.

    Determinism: every r_k is bit-identical by the ACF contract; the
    per-lag overlap counts n_k are exact; on the contiguous grid
    n_total = n_1 + 1 by construction (no second grid pass); Q is one
    fixed-order float expression (lb_q_expr) and the flag one
    comparison against the chi-square literal.

    Contract (validated, ADVICE r6): ``lags_us[0]`` must equal the
    grid step and the lags must be its consecutive multiples
    (step, 2·step, …, h·step) — the classical LB lag ladder. The
    n_total = n_1 + 1 recovery and the (n − k) denominators in
    lb_q_expr assume exactly this; arbitrary lag sets would silently
    skew Q.

    Output: (channel, n_total, r1..rh, q_stat, nonwhite).
    """
    h = len(lags_us)
    step = int(lags_us[0])
    if step <= 0 or list(lags_us) != [step * (k + 1) for k in range(h)]:
        raise ValueError(
            "lags_us must be consecutive multiples of the grid step "
            f"(step, 2*step, ..., h*step); got {tuple(lags_us)}"
        )
    acf = channel_autocorrelation(values, tuple(lags_us), quant)
    aggs = []
    for k, lag in enumerate(lags_us, start=1):
        aggs.append(
            F.max(F.when(F.col("lag_us") == int(lag), F.col("r"))).alias(
                f"r{k}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("lag_us") == int(lag), F.col("n"))).alias(
                f"n{k}"
            )
        )
    g = acf.groupBy("channel").agg(*aggs)
    g = g.withColumn("n_total", F.expr("n1 + 1"))
    q = lb_q_expr(h)
    return g.select(
        "channel",
        "n_total",
        *[f"r{k}" for k in range(1, h + 1)],
        F.expr(q).alias("q_stat"),
        F.expr(f"{q} > {LB_CRIT_5}").alias("nonwhite"),
    )


def hm_exprs(quant: int) -> dict:
    """Shared expression fragments of :func:`higher_moments` — the
    oracle imports these verbatim so both engines fold the identical
    doubles in the identical order. ``mean`` reads the (sx, n) BIGINT
    columns; the t-terms are per-element lambda bodies over ``x``."""
    q = int(quant)
    mean = f"(CAST(sx AS DOUBLE) / ({q}.0 * n))"
    dev = f"(CAST(x AS DOUBLE) / {q}.0 - {mean})"
    t2 = f"({dev} * {dev})"
    return {
        "mean": mean,
        "t2": t2,
        "t3": f"({t2} * {dev})",
        "t4": f"({t2} * {t2})",
        "skew": (
            "CASE WHEN m2 > 0 THEN round(_m3 / (sqrt(m2) * sqrt(m2) "
            "* sqrt(m2)), 9) END"
        ),
        "kurt": "CASE WHEN m2 > 0 THEN round(_m4 / (m2 * m2) - 3.0, 9) END",
    }


def higher_moments(
    samples: DataFrame, window_samples: int = 128, quant: int = 100
) -> DataFrame:
    """Skewness and excess kurtosis per (channel, window) — the
    amplitude-asymmetry / tail-heaviness pair completing the windowed
    feature panel (variance lives in hjorth activity): spikes push
    kurtosis, asymmetric bursts push skew.

    Determinism — the ORDERED-FOLD class (spectral_entropy's rule):
    x³/x⁴ magnitudes overflow BIGINT and 128-bit sums hit DuckDB's
    not-correctly-rounded DECIMAL→DOUBLE cast, so instead the window
    mean is the exact double Sx/(q·n) from BIGINT sums, and the
    central moments m2/m3/m4 are SEQUENTIAL position-ordered double
    folds of (xq/q − mean)^k — both engines fold the identical
    doubles in the identical order (Spark ``aggregate`` over the
    pos-sorted collected window; DuckDB ``list_reduce`` over
    ``list(... ORDER BY pos)``). The final ratios are single fixed
    expressions; zero-variance windows emit NULL explicitly.

    Output: (channel, win, n, mean, m2, skewness, kurtosis_excess);
    ragged tails dropped (the hjorth rule).

    Plan: one per-channel ranking window, one groupBy collecting each
    window (bounded at ws rows) — |channels|x|windows| rows out.
    """
    ws = int(window_samples)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
    )
    g = ranked.groupBy("channel", "win").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.expr(
            "transform(sort_array(collect_list(struct(pos, xq))), "
            "e -> e.xq)"
        ).alias("xs"),
    ).filter(F.col("n") == ws)
    e = hm_exprs(q)
    fold = "aggregate(xs, CAST(0 AS DOUBLE), (a, x) -> a + {term})"
    out = g.select(
        "channel",
        "win",
        "n",
        F.expr(e["mean"]).alias("mean"),
        F.expr(fold.format(term=e["t2"]) + " / n").alias("m2"),
        F.expr(fold.format(term=e["t3"]) + " / n").alias("_m3"),
        F.expr(fold.format(term=e["t4"]) + " / n").alias("_m4"),
    )
    return out.select(
        "channel",
        "win",
        "n",
        "mean",
        "m2",
        F.expr(e["skew"]).alias("skewness"),
        F.expr(e["kurt"]).alias("kurtosis_excess"),
    )


def recurrence_quantification(
    samples: DataFrame,
    window_samples: int = 64,
    r_frac: float = 0.2,
    quant: int = 100,
    l_min: int = 2,
) -> DataFrame:
    """Recurrence quantification per (channel, window) — RQA (Webber
    & Zbilut 1994; Marwan 2007), the nonlinear-dynamics companion to
    SampEn: of all sample pairs i<j in a window, the RECURRENT ones
    lie within tolerance (|x_i − x_j| ≤ r), and DETERMINISM is the
    fraction of recurrent points sitting on diagonal line structures
    of length ≥ ``l_min`` (consecutive i along a fixed lag j−i) —
    periodic signals show DET → 1, uncorrelated noise DET → 0 at
    matched recurrence rates.

    Determinism (engine sense): quantized BIGINT values; the
    tolerance is the bit-exact per-channel IQR gate
    ``r_q = round(r_frac·(p75−p25)·quant)`` (sample_entropy's
    convention); recurrence is an integer comparison; diagonal lines
    come from gaps-and-islands arithmetic on exact positions; RR/DET
    are single fixed divisions.

    Output: (channel, win, n, r_q, n_pairs, n_rec, n_det, rr, det) —
    ``det`` NULL when no pair recurs.

    Plan: ONE self-join per (channel, window) key — ws²/2 pairs per
    window, bounded by ws = 64 — then two partial-agg groupBys
    (diagonal islands, window rollup). All JVM-side DataFrame ops; no
    UDF, no kernel. At 100 TB the pair blowup is per-window constant
    (2016 rows per 64-sample window), embarrassingly parallel across
    (channel, window) keys.
    """
    ws = int(window_samples)
    q = int(quant)
    lm = int(l_min)
    # pins (optimization r11): this operator's plan referenced pct
    # 3x (via ranked's two consumers + the zero-recurrence join-back),
    # ranked 2x, and rk's two self-join legs replayed all of it again
    # — 11 planned parquet scans, i.e. ~5 full per-channel sort-window
    # passes over the raw samples. Pinning the tolerance table (1 row
    # per channel), the ranked table (1 narrow row per sample), and
    # the complete-window list makes every sort/percentile pass run
    # exactly once; the self-join legs read the checkpoint.
    pct = pin(
        channel_percentiles(samples, (0.25, 0.75)).select(
            "channel",
            F.expr(
                f"CAST(round({float(r_frac)} * (p75 - p25) * {q}) AS BIGINT)"
            ).alias("r_q"),
        )
    )
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = pin(
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
        .join(F.broadcast(pct), "channel")
    )
    full = pin(
        ranked.groupBy("channel", "win").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).filter(F.col("n") == ws)
    )
    rk = ranked.join(full, ["channel", "win"])
    a = rk.select(
        "channel", "win", "n", "r_q",
        F.col("pos").alias("pi"), F.col("xq").alias("xi"),
    )
    b = rk.select(
        "channel", "win",
        F.col("pos").alias("pj"), F.col("xq").alias("xj"),
    )
    rec = (
        a.join(b, ["channel", "win"])
        .filter(F.col("pj") > F.col("pi"))
        .filter(F.abs(F.col("xi") - F.col("xj")) <= F.col("r_q"))
        .select(
            "channel", "win", "n", "r_q", "pi",
            (F.col("pj") - F.col("pi")).alias("d"),
        )
    )
    dw = Window.partitionBy("channel", "win", "d").orderBy("pi")
    runs = rec.withColumn(
        "_grp", F.col("pi") - F.row_number().over(dw)
    )
    rlen = runs.groupBy("channel", "win", "n", "r_q", "d", "_grp").agg(
        F.count(F.lit(1)).cast("long").alias("_len")
    )
    agg = rlen.groupBy("channel", "win").agg(
        F.sum("_len").cast("long").alias("n_rec"),
        F.coalesce(
            F.sum(F.when(F.col("_len") >= lm, F.col("_len"))), F.lit(0)
        ).cast("long").alias("n_det"),
    )
    # zero-recurrence windows still report (rr = 0) — left join back
    g = (
        full.join(F.broadcast(pct), "channel")
        .join(agg, ["channel", "win"], "left")
        .fillna(0, subset=["n_rec", "n_det"])
    )
    return g.select(
        "channel",
        "win",
        "n",
        "r_q",
        F.expr("n * (n - 1) div 2").cast("long").alias("n_pairs"),
        "n_rec",
        "n_det",
        F.expr(
            "CAST(n_rec AS DOUBLE) / (n * (n - 1) div 2)"
        ).alias("rr"),
        F.expr(
            "CASE WHEN n_rec > 0 THEN CAST(n_det AS DOUBLE) / n_rec END"
        ).alias("det"),
    )


# Fixed float finishes for the ISI panel, shared verbatim with the
# oracle. Inputs are exact BIGINT second-resolution gap sums.
ISI_MEAN = "CAST(sum_s AS DOUBLE) / n_isi"
ISI_CV = (
    "CASE WHEN sum_s > 0 AND n_isi > 1 THEN "
    "sqrt(CAST(n_isi AS DOUBLE) * CAST(sum_s2 AS DOUBLE) "
    "- CAST(sum_s AS DOUBLE) * CAST(sum_s AS DOUBLE)) / sum_s END"
)
ISI_BURSTINESS = f"CASE WHEN {ISI_CV} IS NOT NULL THEN ({ISI_CV} - 1) / ({ISI_CV} + 1) END"


def isi_stats(
    samples: DataFrame, min_height: float, min_prominence: float = 0.0
) -> DataFrame:
    """Inter-spike-interval statistics per channel — the regularity
    scorecard neuroscience reads off a spike train (Softky & Koch
    1993): the coefficient of variation of the intervals between
    detected peaks (CV ≈ 0 metronome, ≈ 1 Poisson, > 1 bursty) and
    the Goh-Barabási burstiness index B = (CV−1)/(CV+1). Composes the
    gated :func:`detect_peaks` (same height/prominence gates), so the
    peak set is engine-identical by that contract.

    Determinism: intervals are exact µs BIGINTs floored to SECOND
    resolution (``div 1_000_000`` — the squared sum stays BIGINT-safe
    to ~10⁴ peaks × 4-month gaps; µs² would overflow at day-scale
    gaps); the moments are exact integer sums; CV/burstiness are
    single fixed expressions (ISI_*, shared with the oracle).

    Output: (channel, n_isi, sum_s, sum_s2, min_s, max_s, mean_s, cv,
    burstiness); channels with < 2 peaks emit nothing, CV NULL when
    n_isi < 2 or the gaps sum to zero seconds.

    Plan: the detect_peaks window pass, one more per-channel lag, one
    partial-agg groupBy to |channels| rows.
    """
    pk = detect_peaks(samples, min_height, min_prominence)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    g = (
        pk.withColumn("_prev", F.lag("ts").over(w))
        .filter(F.col("_prev").isNotNull())
        .withColumn("g_s", F.expr("(ts - _prev) div 1000000"))
    )
    agg = g.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_isi"),
        F.sum("g_s").cast("long").alias("sum_s"),
        F.sum(F.expr("g_s * g_s")).cast("long").alias("sum_s2"),
        F.min("g_s").cast("long").alias("min_s"),
        F.max("g_s").cast("long").alias("max_s"),
    )
    return agg.select(
        "channel",
        "n_isi",
        "sum_s",
        "sum_s2",
        "min_s",
        "max_s",
        F.expr(ISI_MEAN).alias("mean_s"),
        F.expr(ISI_CV).alias("cv"),
        F.expr(ISI_BURSTINESS).alias("burstiness"),
    )


def multiscale_entropy(
    samples: DataFrame,
    scales: tuple = (1, 2, 4),
    window_samples: int = 128,
    m: int = 2,
    r_frac: float = 0.2,
    quant: int = 100,
) -> DataFrame:
    """Multiscale entropy (Costa et al. 2002) — SampEn of the
    coarse-grained series at each scale: white noise loses entropy as
    the scale grows, 1/f-like physiological complexity holds it, so
    the MSE CURVE separates signals single-scale SampEn confuses. The
    standard consciousness/aging/heart-rate panel on top of
    :func:`sample_entropy`.

    Coarse-graining at scale s averages s consecutive samples; to
    stay integer-exact this compares the s-SUMS instead and scales
    the tolerance by s (equivalent comparisons: |mean_i − mean_j| ≤ r
    ⟺ |sum_i − sum_j| ≤ s·r) — the Costa convention of one tolerance
    from the ORIGINAL series (the bit-exact per-channel IQR gate)
    held fixed across scales. Incomplete trailing coarse groups drop;
    windows are ``window_samples`` COARSE points at every scale (the
    standard formulation — deeper scales cover s× the raw span).

    Output: sample_entropy's columns plus a leading ``scale`` BIGINT:
    (channel, scale, win, n, r_q, b_count, a_count, sampen).

    Plan: per scale, one extra partial-agg groupBy (the coarse sums)
    in front of the sample_entropy shape; scales union at the end
    (|scales| is 3 — a bounded fan-out of independent branches).
    """
    import numpy as np
    import pandas as pd

    ws = int(window_samples)
    q = int(quant)
    mm = int(m)
    # pins (optimization r11): every scale branch references BOTH the
    # tolerance table and the ranked table, so at 3 scales the raw
    # scan + per-channel sort-window pass (ranked) and the percentile
    # pass (pct) each replayed 3x. Pinned, each pass runs once; the
    # per-scale coarse-graining below reads the narrow materialization.
    pct = pin(
        channel_percentiles(samples, (0.25, 0.75)).select(
            "channel",
            F.expr(
                f"CAST(round({float(r_frac)} * (p75 - p25) * {q}) AS BIGINT)"
            ).alias("r_q1"),
        )
    )
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = pin(
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        ).select("channel", "_rn", "xq")
    )
    wins_per_batch = 64
    out = None
    for s in scales:
        ss = int(s)
        coarse = (
            ranked.withColumn("_ci", (F.col("_rn") / ss).cast("long"))
            .groupBy("channel", "_ci")
            .agg(
                F.sum("xq").cast("long").alias("cq"),
                F.count(F.lit(1)).cast("long").alias("_cn"),
            )
            .filter(F.col("_cn") == ss)
        )
        graded = (
            coarse.withColumn("win", (F.col("_ci") / ws).cast("long"))
            .withColumn("pos", (F.col("_ci") % ws).cast("long"))
            .withColumn("_blk", (F.col("win") / wins_per_batch).cast("long"))
            .join(F.broadcast(pct), "channel")
            .withColumn("r_q", F.col("r_q1") * ss)
        )

        def make_run(_ss):
            def run(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
                rq = int(pdf["r_q"].iloc[0])
                pdf = pdf.sort_values(["win", "pos"])
                wins, bs, as_ = [], [], []
                for win, g in pdf.groupby("win", sort=True):
                    if len(g) != ws:
                        continue
                    b, a = sampen_counts(
                        g["cq"].to_numpy(dtype=np.int64), mm, rq
                    )
                    wins.append(int(win))
                    bs.append(b)
                    as_.append(a)
                return pd.DataFrame(
                    {
                        "channel": pd.Series(
                            [key[0]] * len(wins), dtype=str
                        ),
                        "scale": pd.Series(
                            [_ss] * len(wins), dtype="int64"
                        ),
                        "win": pd.Series(wins, dtype="int64"),
                        "n": pd.Series([ws] * len(wins), dtype="int64"),
                        "r_q": pd.Series([rq] * len(wins), dtype="int64"),
                        "b_count": pd.Series(bs, dtype="int64"),
                        "a_count": pd.Series(as_, dtype="int64"),
                    }
                )

            return run

        counts = graded.groupBy("channel", "_blk").applyInPandas(
            make_run(ss),
            schema=(
                "channel string, scale long, win long, n long, "
                "r_q long, b_count long, a_count long"
            ),
        )
        out = counts if out is None else out.unionByName(counts)
    return out.withColumn(
        "sampen",
        F.expr(
            "CASE WHEN a_count > 0 AND b_count > 0 THEN "
            "round(-ln(CAST(a_count AS DOUBLE) "
            "/ CAST(b_count AS DOUBLE)), 9) END"
        ),
    )


def haar_energy(
    samples: DataFrame,
    window_samples: int = 128,
    levels: int = 4,
    quant: int = 100,
) -> DataFrame:
    """Haar wavelet detail-energy decomposition per (channel, window)
    — the multiresolution energy profile (Mallat 1989's DWT with the
    Haar kernel): level-ℓ details are first-half-minus-second-half
    sums of 2^ℓ-sample blocks, so E_ℓ concentrates fluctuation energy
    at time scale 2^ℓ samples. The wavelet counterpart of the
    Fourier band powers — localized bursts show up at their scale
    instead of smearing across frequency.

    Determinism — all-integer to the last division: quantized BIGINT
    values; every detail coefficient is an exact ±1-signed block sum
    (the unnormalized Haar transform — the conventional 1/√2^ℓ factor
    moves into the documented energy scale, keeping the engine-side
    arithmetic integer); E_ℓ is an exact Σd² BIGINT; `energy` and the
    per-window `rel_energy` are single fixed divisions. Envelope:
    |d| ≤ 2^(ℓ−1)·2·max|xq| ⇒ Σd² BIGINT-safe to |value| ≈ 10⁵ at
    quant = 100, levels ≤ 4.

    Output: (channel, win, level, n_details, energy_q, energy,
    rel_energy); ragged tail windows drop (the hjorth rule);
    rel_energy is each level's share of the window's total detail
    energy (NULL when the window is flat).

    Plan: one per-channel ranking window, a |levels|-way narrow
    explode, ONE partial-agg groupBy to blocks, one to levels, and a
    broadcast-scale join back for the window totals.
    """
    ws = int(window_samples)
    q = int(quant)
    lv = int(levels)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
    )
    full = ranked.groupBy("channel", "win").agg(
        F.count(F.lit(1)).cast("long").alias("_nw")
    ).filter(F.col("_nw") == ws)
    rk = ranked.join(full.select("channel", "win"), ["channel", "win"])
    lv_arr = ", ".join(str(i) for i in range(1, lv + 1))
    e = rk.select(
        "channel",
        "win",
        F.explode(F.expr(f"array({lv_arr})")).alias("level"),
        "pos",
        "xq",
    ).select(
        "channel",
        "win",
        "level",
        F.expr("pos div shiftleft(1, level)").alias("blk"),
        F.expr(
            "CASE WHEN (pos div shiftleft(1, level - 1)) % 2 = 0 "
            "THEN xq ELSE -xq END"
        ).alias("sx"),
    )
    # block detail sums first, THEN square — two-stage aggregation
    blocks = e.groupBy("channel", "win", "level", "blk").agg(
        F.sum("sx").cast("long").alias("d")
    )
    g = blocks.groupBy("channel", "win", "level").agg(
        F.count(F.lit(1)).cast("long").alias("n_details"),
        F.sum(F.expr("d * d")).cast("long").alias("energy_q"),
    )
    tot = g.groupBy("channel", "win").agg(
        F.sum("energy_q").cast("long").alias("_tot_q")
    )
    out = g.join(tot, ["channel", "win"])
    return out.select(
        "channel",
        "win",
        F.col("level").cast("long").alias("level"),
        "n_details",
        "energy_q",
        F.expr(f"CAST(energy_q AS DOUBLE) / ({q}.0 * {q}.0)").alias(
            "energy"
        ),
        F.expr(
            "CASE WHEN _tot_q > 0 THEN "
            "CAST(energy_q AS DOUBLE) / _tot_q END"
        ).alias("rel_energy"),
    )


def cfar_peaks(
    samples: DataFrame,
    train: int = 8,
    guard: int = 2,
    factor_num: int = 3,
    factor_den: int = 1,
    quant: int = 100,
) -> DataFrame:
    """Cell-averaging CFAR detection per channel (Finn & Johnson
    1968) — the constant-false-alarm-rate detector radar and spike
    pipelines use when the noise floor DRIFTS: a sample fires when
    its amplitude exceeds ``factor`` × the mean amplitude of its
    2×``train`` surrounding training cells, with ``guard`` cells each
    side excluded so the event's own energy doesn't raise its own
    threshold. The adaptive-local-baseline complement of the global
    gates in detect_peaks / zscore_outliers.

    Determinism — all-integer: quantized |xq| amplitudes; the
    training sums are exact BIGINT window-frame sums; the detection
    test cross-multiplies (aq · n_train · factor_den >
    factor_num · train_sum) so no division enters the predicate; the
    emitted score is one fixed float division. Edge cells with an
    incomplete training window never fire (the conventional CA-CFAR
    edge rule).

    Output: (channel, ts, value, aq, train_sum, score) for firing
    cells only; score = (aq · n_train) / train_sum (NULL only when
    the local floor is exactly zero — those fire whenever aq > 0).

    Plan: one per-channel window pass with four frame aggregates in
    the same sort — no joins, no self-join, predicate-only after.
    """
    t = int(train)
    gd = int(guard)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    lo = w.rowsBetween(-(gd + t), -(gd + 1))
    hi = w.rowsBetween(gd + 1, gd + t)
    x = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(f"abs(CAST(round(value * {q}) AS BIGINT))").alias("aq"),
    )
    x = (
        x.withColumn("_s_lo", F.coalesce(F.sum("aq").over(lo), F.lit(0)))
        .withColumn("_n_lo", F.count(F.lit(1)).over(lo))
        .withColumn("_s_hi", F.coalesce(F.sum("aq").over(hi), F.lit(0)))
        .withColumn("_n_hi", F.count(F.lit(1)).over(hi))
    )
    fired = x.filter(
        (F.col("_n_lo") == t)
        & (F.col("_n_hi") == t)
        & (
            F.col("aq") * (2 * t) * factor_den
            > factor_num * (F.col("_s_lo") + F.col("_s_hi"))
        )
    )
    return fired.select(
        "channel",
        "ts",
        "value",
        "aq",
        (F.col("_s_lo") + F.col("_s_hi")).cast("long").alias("train_sum"),
        F.expr(
            f"CASE WHEN _s_lo + _s_hi > 0 THEN "
            f"CAST(aq * {2 * t} AS DOUBLE) / (_s_lo + _s_hi) END"
        ).alias("score"),
    )


# Fixed float finishes for the HRV panel, shared verbatim with the
# oracle. Inputs are exact BIGINT second-resolution difference
# moments.
HRV_RMSSD = (
    "CASE WHEN n_diffs > 0 THEN "
    "sqrt(CAST(sum_d2 AS DOUBLE) / n_diffs) END"
)
HRV_PNN50 = (
    "CASE WHEN n_diffs > 0 THEN "
    "CAST(nn50 AS DOUBLE) / n_diffs END"
)


def hrv_metrics(
    samples: DataFrame,
    min_height: float,
    min_prominence: float = 0.0,
    nn_threshold_s: int = 3600,
) -> DataFrame:
    """Short-term variability metrics over the gated peak train — the
    HRV pair every wearable ships (Task Force of ESC/NASPE 1996):
    RMSSD (root-mean-square of SUCCESSIVE interval differences — the
    vagal-tone proxy) and pNN (fraction of successive differences
    exceeding ``nn_threshold_s`` — the conventional 50 ms at ECG
    rates; this train's peaks are day-scale, so the driver-gated
    parameterization uses one hour). Complements :func:`isi_stats` (whose CV reads
    TOTAL variance): RMSSD/pNN50 read beat-to-beat change, so a slow
    drift with steady beats scores near zero here while inflating CV.

    Determinism: peaks are engine-identical (the detect_peaks
    contract); intervals floor to exact SECOND BIGINTs
    (millisecond squares overflow BIGINT at this train's month-scale
    gaps — the isi_stats envelope rule, one unit coarser); the difference moments
    are exact integer sums; RMSSD/pNN50 are single fixed expressions
    (HRV_*, shared with the oracle) — IEEE sqrt is correctly rounded.

    Output: (channel, n_diffs, sum_d2, nn50, rmssd_s, pnn);
    channels with < 3 peaks emit nothing.

    Plan: the detect_peaks window pass + two per-channel lags + one
    partial-agg groupBy to |channels| rows.
    """
    pk = detect_peaks(samples, min_height, min_prominence)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    g = (
        pk.withColumn("_prev", F.lag("ts").over(w))
        .filter(F.col("_prev").isNotNull())
        .withColumn("g_s", F.expr("(ts - _prev) div 1000000"))
    )
    d = (
        g.withColumn("_pg", F.lag("g_s").over(w))
        .filter(F.col("_pg").isNotNull())
        .withColumn("dd", F.col("g_s") - F.col("_pg"))
    )
    agg = d.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_diffs"),
        F.sum(F.expr("dd * dd")).cast("long").alias("sum_d2"),
        F.sum(
            F.expr(
                f"CASE WHEN abs(dd) > {int(nn_threshold_s)} "
                f"THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("nn50"),
    )
    return agg.select(
        "channel",
        "n_diffs",
        "sum_d2",
        "nn50",
        F.expr(HRV_RMSSD).alias("rmssd_s"),
        F.expr(HRV_PNN50).alias("pnn"),
    )


# Fixed float finishes for the randomness panel, shared verbatim with
# the oracle. Inputs are exact BIGINT counts.
TP_Z = (
    "CASE WHEN n >= 4 THEN "
    "(CAST(turning_points AS DOUBLE) "
    "- 2.0 * CAST(n - 2 AS DOUBLE) / 3.0) "
    "/ sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0) END"
)
# every chain starts from an explicit DOUBLE cast: a bare 2.0 literal
# is DECIMAL to Spark's parser, and DECIMAL division rounds at
# decimal scale where DuckDB's double math rounds at binary scale —
# a sub-9dp divergence the driver's hash sees (caught live here).
_RW = "(2.0 * CAST(n_above AS DOUBLE) * n_below)"
RUNS_Z = (
    f"CASE WHEN n_above > 0 AND n_below > 0 AND n > 1 "
    f"AND {_RW} * ({_RW} - n) > 0 "
    f"THEN (CAST(runs AS DOUBLE) - (1.0 + {_RW} / n)) "
    f"/ sqrt({_RW} * ({_RW} - n) "
    f"/ (CAST(n AS DOUBLE) * n * (n - 1))) END"
)


def randomness_tests(samples: DataFrame, quant: int = 100) -> DataFrame:
    """Classical nonparametric randomness panel per channel — the two
    textbook tests that complement ts_ljungbox's parametric Q:

    - **turning-point test** (Kendall): count of strict local extrema
      T; under i.i.d. noise E[T] = 2(n−2)/3, Var = (16n−29)/90 —
      too few turns ⇒ trend/smoothness, too many ⇒ negative serial
      correlation;
    - **Wald-Wolfowitz runs test** about the channel median: the
      number of runs R of above/below-median signs vs its exact
      two-color expectation.

    Determinism: quantized BIGINT comparisons only (ties break toward
    "not a turn" / "below" identically on both engines — the median
    is the usual lower order statistic); all counts exact integers;
    both z finishes are single fixed expressions (TP_Z / RUNS_Z).

    Output: (channel, n, turning_points, tp_z, n_above, n_below,
    runs, runs_z).

    Plan: one per-channel sort window (lag+lead+median rank share the
    same partitioning) + one partial-agg groupBy to |channels| rows.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    aw = Window.partitionBy("channel").orderBy("xq", "ts", "value")
    cnt = ranked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    med = (
        ranked.withColumn("_ar", F.row_number().over(aw).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(F.expr("_ar = (_n + 1) div 2"))
        .select("channel", F.col("xq").alias("med_q"))
    )
    x = (
        ranked.join(F.broadcast(med), "channel")
        .withColumn("_prev", F.lag("xq").over(w))
        .withColumn("_next", F.lead("xq").over(w))
        .withColumn("_above", F.expr("xq > med_q"))
        .withColumn(
            "_pabove",
            F.lag(F.expr("xq > med_q")).over(w),
        )
    )
    g = x.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.expr(
                "CASE WHEN _prev IS NOT NULL AND _next IS NOT NULL "
                "AND ((_prev < xq AND xq > _next) "
                "OR (_prev > xq AND xq < _next)) THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("turning_points"),
        F.sum(F.expr("CASE WHEN _above THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_above"),
        F.sum(F.expr("CASE WHEN _above THEN 0 ELSE 1 END"))
        .cast("long")
        .alias("n_below"),
        (
            F.lit(1)
            + F.sum(
                F.expr(
                    "CASE WHEN _pabove IS NOT NULL AND _above <> _pabove "
                    "THEN 1 ELSE 0 END"
                )
            )
        )
        .cast("long")
        .alias("runs"),
    )
    return g.select(
        "channel",
        "n",
        "turning_points",
        F.expr(TP_Z).alias("tp_z"),
        "n_above",
        "n_below",
        "runs",
        F.expr(RUNS_Z).alias("runs_z"),
    )


# Fixed float finishes for the Dickey-Fuller test, shared verbatim
# with the oracle. Inputs are exact BIGINT moments of the quantized
# (level, difference) pairs: sxx = SUM(x_{t-1}^2), sxd = SUM(x_{t-1} * dx),
# sdd = SUM(dx^2), with n pairs.
DF_RHO = "CASE WHEN sxx > 0 THEN CAST(sxd AS DOUBLE) / sxx END"
_DF_S2 = (
    "((CAST(sdd AS DOUBLE) - (CAST(sxd AS DOUBLE) / sxx) * sxd) / (n - 1))"
)
DF_TSTAT = (
    f"CASE WHEN sxx > 0 AND n > 1 AND {_DF_S2} > 0 THEN "
    f"(CAST(sxd AS DOUBLE) / sxx) / sqrt({_DF_S2} / sxx) END"
)
DF_CRIT = "-1.95"  # 5% critical value, no-constant DF table


def adf_test(values: DataFrame, quant: int = 100) -> DataFrame:
    """Dickey-Fuller unit-root test per channel over a uniform grid
    (Dickey & Fuller 1979, the zero-lag no-constant form): regress
    Δx_t on x_{t−1}; a t-statistic below the −1.95 critical value
    rejects the unit root (the series is mean-reverting /
    stationary), above it the series behaves like a random walk — the
    decision every forecasting/monitoring pipeline makes before
    trusting an AR fit (ts_ar2_model) or a drift monitor.

    Determinism: values quantize to BIGINT on the LOCF grid; the
    three regression moments are exact order-free integer sums
    (granger_screen's class — quantization cancels in ρ, and the
    t-statistic is scale-invariant so the raw-quantized moments feed
    it directly); ρ and t are single fixed float expressions (DF_*,
    shared with the oracle), the verdict one comparison against the
    critical literal.

    Output: (channel, n, sxx, sxd, sdd, rho, t_stat, stationary).

    Plan: one per-channel lag + one partial-agg groupBy to |channels|
    rows.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    x = (
        values.select(
            "channel",
            "ts",
            "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("_prev", F.lag("xq").over(w))
        .filter(F.col("_prev").isNotNull())
        .withColumn("dx", F.col("xq") - F.col("_prev"))
    )
    g = x.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("_prev * _prev")).cast("long").alias("sxx"),
        F.sum(F.expr("_prev * dx")).cast("long").alias("sxd"),
        F.sum(F.expr("dx * dx")).cast("long").alias("sdd"),
    )
    return g.select(
        "channel",
        "n",
        "sxx",
        "sxd",
        "sdd",
        F.expr(DF_RHO).alias("rho"),
        F.expr(DF_TSTAT).alias("t_stat"),
        F.expr(f"{DF_TSTAT} < {DF_CRIT}").alias("stationary"),
    )


def _higuchi_fd_coeffs(kmax: int) -> list[float]:
    """Least-squares slope weights for the Higuchi log-log fit:
    fd = Σ_k c_k · ln L(k) with x_k = ln(1/k), c_k = (x_k − x̄)/Sxx.
    Pure Python literals so both engines fold the identical doubles."""
    import math

    xs = [math.log(1.0 / k) for k in range(1, kmax + 1)]
    xbar = sum(xs) / len(xs)
    sxx = sum((x - xbar) ** 2 for x in xs)
    return [(x - xbar) / sxx for x in xs]


def higuchi_fd(
    samples: DataFrame, kmax: int = 5, quant: int = 100
) -> DataFrame:
    """Higuchi fractal dimension per channel (Higuchi 1988) — the
    complexity/self-similarity index EEG pipelines report next to the
    Hjorth triple and sample entropy: build k-decimated sub-curves
    (offsets m = 0..k−1), measure each curve's normalized length
    L_m(k), and fit ln L(k) against ln(1/k); the slope ≈ FD ∈ [1, 2]
    (1 = smooth trend, 2 = space-filling noise). The reference serves
    raw signal only (`TimeSeriesQueryService`); at 100 TB the feature
    runs where the data lives.

    Determinism: quantized values ⇒ each sub-curve's Σ|Δxq| and point
    count are exact integers; L_m(k) is ONE fixed float expression
    over them, 1e6-quantized to BIGINT so the per-k sum over offsets
    is exact; ln L(k) and the slope are one fixed expression chain
    with the fit weights as shared Python literals
    (:func:`_higuchi_fd_coeffs`).

    Output: (channel, n, l1..l{kmax} DOUBLE, fd DOUBLE). Channels
    shorter than 2·kmax samples (missing sub-curves) and flat
    channels emit the 0.0 fd sentinel — an impossible FD — never
    NULL; fd is 9-dp-quantized (the nano-nat finish rule).

    Plan / 100 TB: ONE per-channel window pass computes all kmax lags
    (multiple lag exprs share the single sort), then partial-agg
    groupBys down to |channels|·k·m ≤ |channels|·k² rows. The lag
    depth is ≤ kmax, so the blocked-halo pattern (rolling.py) applies
    directly for few-channel × deep-history corpora.
    """
    k_max = int(kmax)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    lags = [
        F.lag("xq", k).over(w).alias(f"_p{k}") for k in range(1, k_max + 1)
    ]
    ranked = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel",
        (F.row_number().over(w) - 1).alias("_rn"),
        "xq",
        *lags,
    )
    stack_args = ", ".join(
        f"{k}, abs(xq - _p{k})" for k in range(1, k_max + 1)
    )
    pairs = ranked.select(
        "channel",
        "_rn",
        F.expr(f"stack({k_max}, {stack_args}) AS (k, adiff)"),
    ).filter(F.col("adiff").isNotNull())
    per_m = pairs.groupBy(
        "channel", "k", F.expr("_rn % k").alias("m")
    ).agg(
        F.sum("adiff").cast("long").alias("s_abs"),
        F.count(F.lit(1)).cast("long").alias("n_i"),
    )
    n_tbl = samples.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # L_m(k) = Σ|Δ| · (N−1) / (n_i · k²), 1e6-quantized for an exact
    # per-k fold over the offsets.
    lmq = per_m.join(F.broadcast(n_tbl), "channel").select(
        "channel",
        "k",
        "n",
        F.expr(
            "CAST(round(CAST(s_abs AS DOUBLE) * (n - 1) "
            "/ (n_i * k * k) * 1e6) AS BIGINT)"
        ).alias("_lmq"),
    )
    per_k = lmq.groupBy("channel", "n", "k").agg(
        F.sum("_lmq").cast("long").alias("_lsum")
    )
    piv = [
        F.max(F.when(F.col("k") == k, F.col("_lsum"))).alias(f"_lq{k}")
        for k in range(1, k_max + 1)
    ]
    g = per_k.groupBy("channel", "n").agg(*piv)
    l_exprs = {
        k: f"(CAST(_lq{k} AS DOUBLE) / ({k} * 1e6))"
        for k in range(1, k_max + 1)
    }
    cs = _higuchi_fd_coeffs(k_max)
    # Flat (quantized-constant) channels give L(k) = 0; ln(0) is NULL
    # on Spark but an ERROR on DuckDB — gate fd explicitly; the 0.0
    # sentinel (an impossible FD) keeps compared outputs NULL-free.
    # round(·, 9): ln() is not correctly rounded, so the literal-
    # weight fold differs in the last ULP across engines (the
    # ts_spectral_slope r7 failure class) — quantize the finish.
    pos = " AND ".join(f"_lq{k} > 0" for k in range(1, k_max + 1))
    fd_sum = " + ".join(
        f"{cs[k - 1]!r} * ln({l_exprs[k]})" for k in range(1, k_max + 1)
    )
    fd = f"CASE WHEN {pos} THEN round({fd_sum}, 9) ELSE 0e0 END"
    return g.select(
        "channel",
        "n",
        *[F.expr(l_exprs[k]).alias(f"l{k}") for k in range(1, k_max + 1)],
        F.expr(fd).alias("fd"),
    )


def haar_denoise(
    samples: DataFrame,
    window_samples: int = 128,
    levels: int = 4,
    quant: int = 100,
    factor: int = 3,
) -> DataFrame:
    """Haar wavelet denoising per (channel, window) — Donoho &
    Johnstone's wavelet shrinkage with the haar_energy transform:
    hard-threshold the detail coefficients against ``factor``× the
    channel's noise scale (median |level-1 detail| — the MAD
    estimator; level-1 details of white noise are pure noise), then
    reconstruct. Preserves edges the moving-average smoothers blur —
    the denoising complement of haar_energy's diagnostics.

    Determinism — integer transform, DYADIC-exact reconstruction:
    details are the exact ±1-signed BIGINT block sums; the threshold
    keep-rule is the pure integer comparison
    2·d² > factor²·mad²·2^ℓ (both sides exact — the normalized
    coefficient test d²/2^ℓ > (factor·mad/√2)² cleared of roots); the
    reconstruction Σ ±d_ℓ/2^ℓ + a_L/2^L sums dyadic rationals
    (divisions by powers of two are exact in IEEE doubles), so the
    float sum is EXACT and order-free; only the final /quant is a
    rounding division, written identically in the oracle.

    Output: (channel, ts, value, denoised); ragged tail windows drop
    (the hjorth rule). With factor = 0 every detail survives and
    denoised replays value exactly (the lossless-reconstruction
    invariant the tests pin).

    Plan / 100 TB: the haar_energy shape (one ranking window, narrow
    level-explode, two partial-agg groupBys) plus one join back to
    sample rows keyed (channel, win, level-block) and a broadcast MAD
    table — everything shuffles on fine-grained (channel, win) keys.
    """
    ws = int(window_samples)
    q = int(quant)
    lv = int(levels)
    c2 = int(factor) * int(factor)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
    )
    full = (
        ranked.groupBy("channel", "win")
        .agg(F.count(F.lit(1)).cast("long").alias("_nw"))
        .filter(F.col("_nw") == ws)
        .select("channel", "win")
    )
    rk = pin(ranked.join(full, ["channel", "win"]))
    lv_arr = ", ".join(str(i) for i in range(1, lv + 1))
    e = rk.select(
        "channel",
        "win",
        F.explode(F.expr(f"array({lv_arr})")).alias("level"),
        "pos",
        "xq",
    ).select(
        "channel",
        "win",
        "level",
        F.expr("pos div shiftleft(1, level)").alias("blk"),
        F.expr(
            "CASE WHEN (pos div shiftleft(1, level - 1)) % 2 = 0 "
            "THEN xq ELSE -xq END"
        ).alias("sx"),
    )
    details = e.groupBy("channel", "win", "level", "blk").agg(
        F.sum("sx").cast("long").alias("d")
    )
    # channel noise scale: median |level-1 detail| order statistic
    d1 = details.filter(F.col("level") == 1).select(
        "channel", "win", "blk", F.abs("d").alias("_ad")
    )
    aw = Window.partitionBy("channel").orderBy("_ad", "win", "blk")
    cnt = d1.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    mad = (
        d1.withColumn("_ar", F.row_number().over(aw).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(F.expr("_ar = (_n + 1) div 2"))
        .select("channel", F.col("_ad").alias("mad_q"))
    )
    kept = details.join(F.broadcast(mad), "channel").select(
        "channel",
        "win",
        "level",
        "blk",
        F.expr(
            f"CASE WHEN 2 * d * d > {c2} * mad_q * mad_q "
            "* shiftleft(1, level) THEN d ELSE CAST(0 AS BIGINT) END"
        ).alias("dk"),
    )
    # approximation coefficients: level-L block sums
    approx = rk.groupBy(
        "channel", "win", F.expr(f"pos div shiftleft(1, {lv})").alias("ablk")
    ).agg(F.sum("xq").cast("long").alias("a"))
    # per-sample detail contributions (dyadic-exact doubles)
    contrib = (
        rk.select(
            "channel",
            "win",
            "pos",
            F.explode(F.expr(f"array({lv_arr})")).alias("level"),
        )
        .withColumn("blk", F.expr("pos div shiftleft(1, level)"))
        .join(kept, ["channel", "win", "level", "blk"])
        .groupBy("channel", "win", "pos")
        .agg(
            F.sum(
                F.expr(
                    "CAST(CASE WHEN (pos div shiftleft(1, level - 1)) % 2"
                    " = 0 THEN dk ELSE -dk END AS DOUBLE)"
                    " / CAST(shiftleft(1, level) AS DOUBLE)"
                )
            ).alias("_dsum")
        )
    )
    out = (
        rk.join(contrib, ["channel", "win", "pos"])
        .withColumn("ablk", F.expr(f"pos div shiftleft(1, {lv})"))
        .join(approx, ["channel", "win", "ablk"])
    )
    return out.select(
        "channel",
        "ts",
        "value",
        F.expr(
            f"(CAST(a AS DOUBLE) / CAST(shiftleft(1, {lv}) AS DOUBLE)"
            f" + _dsum) / CAST({q} AS DOUBLE)"
        ).alias("denoised"),
    )


def mutual_information(
    values: DataFrame, n_bins: int = 8, quant: int = 100
) -> DataFrame:
    """Binned mutual information between aligned channel pairs — the
    model-free coupling detector next to the linear family
    (correlation, coherence, Granger): MI sees ANY deterministic or
    stochastic dependence, not just linear/spectral structure.
    ``values`` must be time-aligned rows per channel (the asof_locf
    grid contract); each channel is discretized into ``n_bins``
    equal-width amplitude bins between its own min and max.

        MI = Σ_ij (n_ij/N) · ln( n_ij·N / (r_i·c_j) )

    Determinism: bins are exact integer arithmetic
    ((xq−mn)·B div (mx−mn+1)); joint/marginal counts are exact;
    each cell carries the integer weight
    n_ij·(ln n_ij + ln N − ln r_i − ln c_j) with every ln
    1e9-quantized, accumulated in DECIMAL(38,0) (the source_kl
    class); the final MI is one fixed cast-divide-divide chain.
    MI ≥ 0 up to quantization; independent channels ≈ 0.

    Output: (ch_x, ch_y, n, mi) for every unordered pair
    (ch_x < ch_y), mi in nats.

    Plan / 100 TB: per-channel min/max is one partial-agg groupBy
    (broadcast back); the pair join is the granger/xcorr ts-equi
    self-join (all pairs share one shuffle keyed on ts); joint
    counts collapse to ≤ |pairs|·B² rows with map-side partials.
    """
    q = int(quant)
    b = int(n_bins)
    v = values.select(
        "channel",
        "ts",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    v = pin(v)
    ext = v.groupBy("channel").agg(
        F.min("xq").alias("mn"), F.max("xq").alias("mx")
    )
    binned = v.join(F.broadcast(ext), "channel").select(
        "channel",
        "ts",
        F.expr(
            f"CASE WHEN mx = mn THEN CAST(0 AS BIGINT) ELSE "
            f"((xq - mn) * {b}) div (mx - mn + 1) END"
        ).alias("bin"),
    )
    lhs = binned.select(
        F.col("channel").alias("ch_x"), "ts", F.col("bin").alias("bx")
    )
    rhs = binned.select(
        F.col("channel").alias("ch_y"), "ts", F.col("bin").alias("by")
    )
    joint = (
        lhs.join(rhs, "ts")
        .filter(F.col("ch_x") < F.col("ch_y"))
        .groupBy("ch_x", "ch_y", "bx", "by")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ij"))
    )
    # joint feeds three subtrees (itself + both marginals)
    joint = pin(joint)
    rx = joint.groupBy("ch_x", "ch_y", "bx").agg(
        F.sum("n_ij").cast("long").alias("r_i")
    )
    cy = joint.groupBy("ch_x", "ch_y", "by").agg(
        F.sum("n_ij").cast("long").alias("c_j")
    )
    nn = joint.groupBy("ch_x", "ch_y").agg(
        F.sum("n_ij").cast("long").alias("n")
    )
    LNQ = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000000) AS BIGINT)"
    w = F.expr(
        "CAST(n_ij AS DECIMAL(38,0)) * ("
        + LNQ.format(x="n_ij") + " + " + LNQ.format(x="n")
        + " - " + LNQ.format(x="r_i") + " - " + LNQ.format(x="c_j")
        + ")"
    )
    j = (
        joint.join(rx, ["ch_x", "ch_y", "bx"])
        .join(cy, ["ch_x", "ch_y", "by"])
        .join(F.broadcast(nn), ["ch_x", "ch_y"])
    )
    return (
        j.groupBy("ch_x", "ch_y")
        .agg(F.max("n").alias("n"), F.sum(w).alias("_miq"))
        .select(
            "ch_x",
            "ch_y",
            "n",
            (
                (F.col("_miq").cast("double") / 1_000_000_000)
                / F.col("n")
            ).alias("mi"),
        )
    )


def hampel_despike(
    samples: DataFrame,
    window_samples: int = 32,
    quant: int = 100,
    k: int = 3,
    pinned: bool = True,
) -> DataFrame:
    """Hampel filter (Hampel 1974; the robust despiking standard) over
    tumbling windows: a sample is a spike when it deviates from its
    window MEDIAN by more than ``k``× the window MAD — mean/variance
    rules famously fail here because the spike inflates its own
    threshold; median/MAD have a 50% breakdown point. Spikes are
    replaced by the window median — the cleaning complement of
    detect_peaks (which REPORTS extremes) and cfar_peaks (adaptive
    mean). Tumbling windows keep the operator embarrassingly
    parallel; the rolling variant is the documented
    blocked-halo extension (rolling.py pattern).

    Determinism — all-integer: window median and MAD are k-th-smallest
    order statistics under total orders ((xq, pos) and (adev, pos));
    the spike rule |xq − med|·1 > k·mad is a pure integer comparison;
    the despiked value is med/quant or the original — one fixed
    division each.

    Output: (channel, ts, value, win, is_spike, despiked); ragged tail
    windows drop (the hjorth rule).

    Plan / 100 TB: one per-channel ranking window, then everything
    keys on (channel, win) — fine-grained, skew-free; two in-window
    rank passes (median, MAD) + one broadcast-free join back by
    position.
    """
    ws = int(window_samples)
    q = int(quant)
    kk = int(k)
    # pins (optimization r11): ranked feeds the complete-window list
    # AND the joined rk (whose med/dev legs fan out again), and dev
    # feeds both the MAD rank pass and the final join — unpinned, the
    # plan replayed the raw per-channel sort-window pass up to 8x.
    # ``pinned=False`` keeps the lazy-logical-plan contract for
    # sqlapi view registration (an eager barrier runs jobs).
    _p = pin if pinned else (lambda df: df)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = _p(
        samples.select(
            "channel",
            "ts",
            "value",
            (F.row_number().over(w) - 1).alias("_rn"),
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("win", (F.col("_rn") / ws).cast("long"))
        .withColumn("pos", (F.col("_rn") % ws).cast("long"))
    )
    full = (
        ranked.groupBy("channel", "win")
        .agg(F.count(F.lit(1)).cast("long").alias("_nw"))
        .filter(F.col("_nw") == ws)
        .select("channel", "win")
    )
    rk = ranked.join(full, ["channel", "win"])
    mw = Window.partitionBy("channel", "win").orderBy("xq", "pos")
    med = (
        rk.withColumn("_ar", F.row_number().over(mw))
        .filter(F.col("_ar") == (ws + 1) // 2)
        .select("channel", "win", F.col("xq").alias("med_q"))
    )
    dev = _p(
        rk.join(med, ["channel", "win"]).withColumn(
            "adev", F.expr("abs(xq - med_q)")
        )
    )
    aw = Window.partitionBy("channel", "win").orderBy("adev", "pos")
    mad = (
        dev.withColumn("_ar", F.row_number().over(aw))
        .filter(F.col("_ar") == (ws + 1) // 2)
        .select("channel", "win", F.col("adev").alias("mad_q"))
    )
    out = dev.join(mad, ["channel", "win"])
    return out.select(
        "channel",
        "ts",
        "value",
        "win",
        F.expr(f"adev > {kk} * mad_q").alias("is_spike"),
        F.expr(
            f"CASE WHEN adev > {kk} * mad_q "
            f"THEN CAST(med_q AS DOUBLE) / {q} ELSE value END"
        ).alias("despiked"),
    )


def theil_sen_slope(
    values: DataFrame, step_us: int, quant: int = 100
) -> DataFrame:
    """Theil-Sen robust trend per channel (Theil 1950 / Sen 1968): the
    MEDIAN of all pairwise slopes — up to 29% contamination cannot
    move it, where the OLS slope in ts_trend_segments chases every
    outlier. The robust member of the trend family, reported in
    units/day. ``values`` must be the uniform day grid (asof_locf
    contract), so the pair count per channel is bounded by the
    OBSERVATION WINDOW in days — the all-pairs join is O(days²) per
    channel by construction, never O(samples²).

    Determinism: pair slopes are single fixed divisions of exact
    quantized integers (identical IEEE doubles on both engines); the
    median is the k-th-smallest order statistic under the total order
    (slope, i, j); output is that one double (and exact counts).

    Output: (channel, n_points, n_pairs, slope_per_day).
    """
    from pennsieve_streaming_spark.util import ensure_parallelism

    q = int(quant)
    step = int(step_us)
    v = values.select(
        "channel",
        F.col("ts").alias("t"),
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    v = pin(v)
    # Parallelize the pair fan-out (optimization r11): the day grid is
    # tiny (it arrives as a 1-partition pinned table), so the planner
    # broadcast-joins the legs and the WHOLE O(days²)-per-channel pair
    # explosion — generation, slope evaluation, and the median sort's
    # map side — used to run inside that single source partition (one
    # 71 s task on a 32-core box at sf0.1). Spreading the stream-side
    # leg over the cluster costs one trivial |grid|-row shuffle and
    # parallelizes everything downstream; the broadcast leg stays
    # whole-table, so the produced pair set is identical.
    a = ensure_parallelism(
        v.select("channel", F.col("t").alias("ti"), F.col("xq").alias("yi"))
    )
    b = F.broadcast(
        v.select("channel", F.col("t").alias("tj"), F.col("xq").alias("yj"))
    )
    pairs = a.join(b, "channel").filter(F.col("ti") < F.col("tj")).select(
        "channel",
        "ti",
        "tj",
        F.expr(
            f"CAST(yj - yi AS DOUBLE) / "
            f"(CAST(tj - ti AS DOUBLE) / {step}) / {q}"
        ).alias("slope"),
    )
    cnt = pairs.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    npts = v.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    # The per-channel median window stays: a two-phase grouped rank
    # was A/B'd here (optimization r11) and lost — it must checkpoint
    # the whole O(days²) pair table to pin its partitioning, which
    # costs more than the |channels|-way parallel sort it replaces
    # and breaks the 1g vanilla-session contract at sf0.1.
    mw = Window.partitionBy("channel").orderBy("slope", "ti", "tj")
    med = (
        pairs.withColumn("_ar", F.row_number().over(mw).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(F.expr("_ar = (n_pairs + 1) div 2"))
        .select("channel", "n_pairs", F.col("slope").alias("slope_per_day"))
    )
    return med.join(F.broadcast(npts), "channel").select(
        "channel", "n_points", "n_pairs", "slope_per_day"
    )


def allan_variance(
    samples: DataFrame,
    taus: tuple[int, ...] = (1, 2, 4, 8),
    quant: int = 100,
) -> DataFrame:
    """Allan variance per channel (Allan 1966) — the stability-vs-
    averaging-time curve clock, gyro and sensor pipelines read instead
    of the plain variance (which diverges under drift/flicker noise):

        AVAR(τ) = Σ_k (ȳ_{k+1} − ȳ_k)² / (2(M−1))

    over non-overlapping τ-sample block means ȳ_k. The slope of
    ln AVAR vs ln τ classifies the noise (white −1, flicker 0, random
    walk +1) — the time-domain sibling of ts_spectral_slope.

    Determinism — all-integer to one division: block SUMS are exact
    BIGINTs; (ȳ_{k+1} − ȳ_k)² = (ΔS)²/τ², so Σ(ΔS)² accumulates as
    exact integers (DECIMAL(38,0) — (ΔS)² reaches 2τ²·(max|xq|)²)
    and AVAR is ONE fixed cast-divide chain per τ. The block-delta
    pass runs on the |blocks| table per τ.

    Output: (channel, tau, n_blocks, avar), one row per (channel, τ);
    channels shorter than 2τ samples emit no row at that τ.

    Plan / 100 TB: one per-channel ranking window; per τ a partial-agg
    groupBy to |samples|/τ blocks and one lag pass over the block
    table — the τ explode is a narrow ×|taus| map.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).withColumn("_rn", F.row_number().over(w) - 1)
    tau_arr = ", ".join(str(t) for t in taus)
    e = ranked.select(
        "channel",
        "_rn",
        "xq",
        F.explode(F.expr(f"array({tau_arr})")).alias("tau"),
    )
    nch = ranked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    blocks = (
        e.join(F.broadcast(nch), "channel")
        .filter(F.expr("_rn < (_n div tau) * tau"))
        .groupBy("channel", "tau", F.expr("_rn div tau").alias("blk"))
        .agg(F.sum("xq").cast("long").alias("s"))
    )
    bw = Window.partitionBy("channel", "tau").orderBy("blk")
    d = (
        blocks.withColumn("_prev", F.lag("s").over(bw))
        .filter(F.col("_prev").isNotNull())
        .withColumn("_ds", F.col("s") - F.col("_prev"))
    )
    g = d.groupBy("channel", "tau").agg(
        F.count(F.lit(1)).cast("long").alias("n_deltas"),
        F.sum(
            F.expr("CAST(_ds AS DECIMAL(38,0)) * CAST(_ds AS DECIMAL(38,0))")
        ).alias("_sq"),
    )
    return g.select(
        "channel",
        F.col("tau").cast("long").alias("tau"),
        (F.col("n_deltas") + 1).cast("long").alias("n_blocks"),
        F.expr(
            f"CAST(_sq AS DOUBLE) / (2e0 * n_deltas * tau * tau "
            f"* {q} * CAST({q} AS DOUBLE))"
        ).alias("avar"),
    )


def entropy_rate(
    values: DataFrame, n_bins: int = 8, quant: int = 100
) -> DataFrame:
    """Entropy rate of the discretized series per channel — the
    conditional entropy H(X_t | X_{t−1}) over lag-1 transitions of
    equal-width amplitude bins: how unpredictable the NEXT sample is
    given the current one. The within-channel temporal sibling of
    ts_mutual_info's cross-channel coupling (and the continuous
    cousin of ev_markov_entropy's per-source transition entropy);
    near 0 = deterministic dynamics, near ln(B) = memoryless noise.
    ``values`` must be a uniform grid (the asof_locf contract) so
    "next sample" is well-defined.

        H = − Σ_ij (n_ij / N) · ln(n_ij / r_i)

    Determinism: bins are the mutual_information integer rule; lag-1
    transition counts are exact; each cell carries the nano-nat
    integer weight n_ij·(ln n_ij − ln r_i) accumulated in
    DECIMAL(38,0); the rate is one fixed cast-divide chain, plus the
    ln(B)-normalized form.

    Output: (channel, n, entropy_rate, normalized) — n = transition
    count.

    Plan / 100 TB: one per-channel min/max partial-agg (broadcast
    back), ONE lag window pass, groupBys to ≤ |channels|·B² rows.
    """
    import math

    q = int(quant)
    b = int(n_bins)
    v = values.select(
        "channel",
        "ts",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    v = pin(v)
    ext = v.groupBy("channel").agg(
        F.min("xq").alias("mn"), F.max("xq").alias("mx")
    )
    binned = v.join(F.broadcast(ext), "channel").select(
        "channel",
        "ts",
        F.expr(
            f"CASE WHEN mx = mn THEN CAST(0 AS BIGINT) ELSE "
            f"((xq - mn) * {b}) div (mx - mn + 1) END"
        ).alias("bin"),
    )
    w = Window.partitionBy("channel").orderBy("ts")
    pairs = (
        binned.withColumn("_prev", F.lag("bin").over(w))
        .filter(F.col("_prev").isNotNull())
        .groupBy("channel", F.col("_prev").alias("bi"),
                 F.col("bin").alias("bj"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ij"))
    )
    pairs = pin(pairs)
    ri = pairs.groupBy("channel", "bi").agg(
        F.sum("n_ij").cast("long").alias("r_i")
    )
    nn = pairs.groupBy("channel").agg(
        F.sum("n_ij").cast("long").alias("n")
    )
    LNQ = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000000) AS BIGINT)"
    wgt = F.expr(
        "CAST(n_ij AS DECIMAL(38,0)) * ("
        + LNQ.format(x="n_ij") + " - " + LNQ.format(x="r_i") + ")"
    )
    j = pairs.join(ri, ["channel", "bi"]).join(F.broadcast(nn), "channel")
    lnb = f"{math.log(float(b)):.17e}"
    return (
        j.groupBy("channel")
        .agg(F.max("n").alias("n"), F.sum(wgt).alias("_hq"))
        .select(
            "channel",
            "n",
            (
                -(F.col("_hq").cast("double") / 1_000_000_000)
                / F.col("n")
            ).alias("entropy_rate"),
            F.expr(
                f"(-(CAST(_hq AS DOUBLE) / 1000000000) / n) / {lnb}"
            ).alias("normalized"),
        )
    )


def matrix_profile(
    values: DataFrame, m: int = 7, quant: int = 100
) -> DataFrame:
    """Tumbling-window matrix profile per channel (Yeh et al. 2016,
    the discord/motif primitive of the UCR matrix-profile line,
    restricted to NON-overlapping length-``m`` subsequences): for each
    complete window, the minimum UNNORMALIZED squared Euclidean
    distance to any other window of the same channel, plus the
    nearest-neighbor window index. High profile values are discords
    (anomalous weeks); low values are motifs (repeated regimes).

    Determinism — the reason for the unnormalized integer variant:
    distances are exact BIGINT sums of squared differences of
    quantized values, so the (distance, neighbor-index) argmin is an
    exact integer order statistic — no z-normalization division whose
    cross-engine ULP could flip the argmin.

    ``values`` must be the uniform day grid (the theil_sen contract),
    so windows per channel are bounded by the OBSERVATION WINDOW in
    days / m — the all-pairs stage is O((days/m)²) per channel by
    construction, never O(samples²).

    Output: (channel, win, nn_win, nn_dist2).

    Plan / 100 TB: one per-channel ranking window, one (channel, pos)
    equi-join (pos < m keys per channel — AQE splits the hot keys),
    two partial-agg groupBys; nothing wider than windows² rows.
    """
    mm = int(m)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel",
        (F.row_number().over(w) - 1).alias("_rn"),
        "xq",
    ).select(
        "channel",
        F.expr(f"_rn div {mm}").alias("win"),
        F.expr(f"_rn % {mm}").alias("pos"),
        "xq",
    )
    nwin = ranked.groupBy("channel", "win").agg(
        F.count(F.lit(1)).alias("_nw")
    )
    full = ranked.join(
        nwin.filter(F.col("_nw") == mm).select("channel", "win"),
        ["channel", "win"],
    )
    full = pin(full)
    a = full.select(
        "channel", F.col("win").alias("wi"), "pos", F.col("xq").alias("xa")
    )
    b = full.select(
        "channel", F.col("win").alias("wj"), "pos", F.col("xq").alias("xb")
    )
    d2 = (
        a.join(b, ["channel", "pos"])
        .filter(F.col("wi") != F.col("wj"))
        .groupBy("channel", "wi", "wj")
        .agg(
            F.sum(F.expr("(xa - xb) * (xa - xb)")).cast("long").alias("d2")
        )
    )
    aw = Window.partitionBy("channel", "wi").orderBy("d2", "wj")
    return (
        d2.withColumn("_r", F.row_number().over(aw))
        .filter(F.col("_r") == 1)
        .select(
            "channel",
            F.col("wi").cast("long").alias("win"),
            F.col("wj").cast("long").alias("nn_win"),
            F.col("d2").alias("nn_dist2"),
        )
    )


def variance_ratio(
    values: DataFrame, qs: tuple[int, ...] = (2, 4, 8), quant: int = 100
) -> DataFrame:
    """Lo-MacKinlay variance-ratio panel per channel (Lo & MacKinlay
    1988): VR(q) = Var(q-period increment) / (q · Var(1-period
    increment)) over the uniform day grid. VR ≈ 1 is a random walk;
    VR < 1 mean reversion; VR > 1 trending — the econometric
    complement of ts_adf_test (unit root) and ts_hurst_rs (rescaled
    range).

    Determinism: 1- and q-period increments are exact BIGINT
    differences of quantized values; their moments are exact BIGINT
    sums (population variance); each VR is ONE fixed float expression
    over them, rounded to 9 dp (degenerate zero variance reports the
    0.0 sentinel — compared outputs are NULL-free).

    Output: (channel, n, vr2, vr4, vr8) for the default qs.

    Plan / 100 TB: one per-channel sort window computes all lags, one
    partial-agg groupBy to |channels| rows.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    lags = [F.lag("xq", k).over(w).alias(f"_l{k}") for k in (1,) + tuple(qs)]
    base = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select("channel", "xq", *lags)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for k in (1,) + tuple(qs):
        d = F.expr(f"xq - _l{k}")
        aggs += [
            F.count(F.col(f"_l{k}")).cast("long").alias(f"n{k}"),
            F.sum(d).cast("long").alias(f"s{k}"),
            F.sum(d * d).cast("long").alias(f"ss{k}"),
        ]
    g = base.groupBy("channel").agg(*aggs)

    def var(k: int) -> str:
        return (
            f"(CAST(ss{k} AS DOUBLE) / n{k} "
            f"- (CAST(s{k} AS DOUBLE) / n{k}) * (CAST(s{k} AS DOUBLE) / n{k}))"
        )

    cols = [F.col("n1").alias("n")]
    for k in qs:
        cols.append(
            F.expr(
                f"CASE WHEN n1 > 0 AND n{k} > 0 AND {var(1)} > 0e0 "
                f"THEN round({var(k)} / ({k} * {var(1)}), 9) "
                f"ELSE 0e0 END"
            ).alias(f"vr{k}")
        )
    return g.select("channel", *cols)


def kpss_stat(values: DataFrame, quant: int = 100) -> DataFrame:
    """KPSS level-stationarity statistic per channel (Kwiatkowski,
    Phillips, Schmidt & Shin 1992, short-run variance variant l = 0):
    partial sums of demeaned values, stat = Σ S_t² / (n · Σ e_t²)
    against the 0.463 (5%) critical value. The null is STATIONARITY —
    the mirror of ts_adf_test's unit-root null; reporting both is the
    standard stationarity panel.

    Determinism: work in n-scaled integers — E_t = n·y_t − Σy is an
    exact BIGINT, its running sum S_t is exact, and both quadratic
    sums accumulate in DECIMAL(38,0) (the HUGEINT class); the n-scale
    cancels in the ratio, which is ONE fixed float division rounded
    to 9 dp.

    Output: (channel, n, kpss_stat, stationary BOOLEAN).

    Plan / 100 TB: one groupBy for (n, Σy), one broadcast join back,
    one per-channel running-sum window, one partial-agg groupBy.
    """
    q = int(quant)
    base = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    tot = base.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sy"),
    )
    w = Window.partitionBy("channel").orderBy("ts", "value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = base.join(F.broadcast(tot), "channel").select(
        "channel",
        "ts",
        "value",
        "n",
        F.expr("n * xq - sy").alias("_e"),
    )
    s = e.withColumn("_s", F.sum("_e").over(w).cast("long"))
    g = s.groupBy("channel").agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.expr("CAST(_s AS DECIMAL(38,0)) * _s")).alias("_ss2"),
        F.sum(F.expr("CAST(_e AS DECIMAL(38,0)) * _e")).alias("_ee2"),
    )
    return g.select(
        "channel",
        "n",
        F.expr(
            "CASE WHEN _ee2 > 0 THEN "
            "round(CAST(_ss2 AS DOUBLE) / (n * CAST(_ee2 AS DOUBLE)), 9) "
            "ELSE 0e0 END"
        ).alias("kpss_stat"),
        F.expr(
            "CASE WHEN _ee2 > 0 THEN "
            "round(CAST(_ss2 AS DOUBLE) / (n * CAST(_ee2 AS DOUBLE)), 9) "
            "ELSE 0e0 END <= 0.463"
        ).alias("stationary"),
    )


def poincare_sd(values: DataFrame, quant: int = 100) -> DataFrame:
    """Poincaré-plot descriptors per channel (Brennan et al. 2001):
    SD1 = √(Var(x_{t+1} − x_t)/2) — short-term variability, the
    plot's width; SD2 = √(Var(x_{t+1} + x_t)/2) — long-term
    variability, its length; and the SD1/SD2 shape ratio. The
    geometric companion of ts_hrv_metrics' RMSSD (SD1 = RMSSD/√2 for
    zero-mean differences) applied to the sample series itself.

    Determinism: difference and sum series are exact BIGINT pairs of
    quantized values; their population moments are exact BIGINT sums;
    SD1/SD2/ratio are fixed sqrt finishes rounded to 9 dp (degenerate
    zero variance reports the 0.0 sentinel).

    Output: (channel, n_pairs, sd1, sd2, sd_ratio).

    Plan / 100 TB: one per-channel lag window, one partial-agg
    groupBy to |channels| rows.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    base = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel", "xq", F.lag("xq").over(w).alias("_p")
    ).filter(F.col("_p").isNotNull())
    g = base.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.expr("xq - _p")).cast("long").alias("sd_"),
        F.sum(F.expr("CAST(xq - _p AS DECIMAL(38,0)) * (xq - _p)")).alias(
            "sdd"
        ),
        F.sum(F.expr("xq + _p")).cast("long").alias("sp_"),
        F.sum(F.expr("CAST(xq + _p AS DECIMAL(38,0)) * (xq + _p)")).alias(
            "spp"
        ),
    )
    vd = (
        "(CAST(sdd AS DOUBLE) / n_pairs "
        "- (CAST(sd_ AS DOUBLE) / n_pairs) * (CAST(sd_ AS DOUBLE) / n_pairs))"
    )
    vp = (
        "(CAST(spp AS DOUBLE) / n_pairs "
        "- (CAST(sp_ AS DOUBLE) / n_pairs) * (CAST(sp_ AS DOUBLE) / n_pairs))"
    )
    qq = float(q)
    return g.select(
        "channel",
        "n_pairs",
        F.expr(
            f"CASE WHEN {vd} > 0e0 THEN "
            f"round(sqrt({vd} / 2e0) / {qq!r}, 9) ELSE 0e0 END"
        ).alias("sd1"),
        F.expr(
            f"CASE WHEN {vp} > 0e0 THEN "
            f"round(sqrt({vp} / 2e0) / {qq!r}, 9) ELSE 0e0 END"
        ).alias("sd2"),
        F.expr(
            f"CASE WHEN {vd} > 0e0 AND {vp} > 0e0 THEN "
            f"round(sqrt({vd}) / sqrt({vp}), 9) ELSE 0e0 END"
        ).alias("sd_ratio"),
    )


# Fixed per-box-size literals for the DFA detrend: x = 1..s, so
# Sx = s(s+1)/2, centered Sxx = s(s²−1)/12 — exact small integers.
def _dfa_slope_coeffs(sizes: tuple[int, ...]) -> list[float]:
    """OLS slope weights over x_i = ln(s_i): slope = Σ c_i · ln F(s_i)
    with c_i = (ln s_i − x̄)/Sxx — shared Python literals (the
    higuchi/spectral-slope convention)."""
    import math

    xs = [math.log(float(s)) for s in sizes]
    xbar = sum(xs) / len(xs)
    sxx = sum((x - xbar) ** 2 for x in xs)
    return [(x - xbar) / sxx for x in xs]


def dfa(
    values: DataFrame,
    box_sizes: tuple[int, ...] = (4, 8, 16),
    quant: int = 100,
) -> DataFrame:
    """Detrended fluctuation analysis per channel (Peng et al. 1994):
    integrate the demeaned series, split into boxes of ``box_sizes``
    days, linearly detrend each box, and fit ln F(s) against ln s —
    the scaling exponent α (≈0.5 white noise, ≈1 pink/1-over-f, ≈1.5
    Brownian). The long-range-correlation member of the complexity
    panel next to ts_hurst_rs (R/S) and ts_higuchi_fd (curve length):
    DFA stays valid under nonstationary trends, which is why it is
    the standard in physiological signal analysis.

    Determinism: the profile is exact — P_t = Σ(n·y − Σy) in BIGINT
    (n-scaling avoids the mean division); per-box moments are exact
    (ΣP, ΣkP in BIGINT; ΣP² in DECIMAL(38,0)); each box's OLS SSE is
    ONE fixed float expression over them with per-s literal
    denominators, clamped at 0 and rounded to an integer quantum so
    the cross-box sum is EXACT and order-free (the welch_psd rule);
    F(s) and α are fixed finishes rounded to 9 dp (the n-scale
    divides back out). Degenerate channels (any F = 0) report the
    0.0 α sentinel.

    Output: (channel, n, f4, f8, f16, alpha) for the default sizes.

    Plan / 100 TB: one groupBy for (n, Σy), a broadcast join back,
    one per-channel running-sum window, one narrow explode to
    |sizes| copies, two partial-agg groupBys (boxes, then channels).
    The day-grid contract bounds rows per channel by the observation
    window, exactly as theil_sen/adf.
    """
    q = int(quant)
    sizes = tuple(int(s) for s in box_sizes)
    base = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    tot = base.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sy"),
    )
    w = Window.partitionBy("channel").orderBy("ts", "value")
    prof = (
        base.join(F.broadcast(tot), "channel")
        .select(
            "channel",
            "ts",
            "value",
            "n",
            F.expr("n * xq - sy").alias("_e"),
            (F.row_number().over(w) - 1).alias("_i"),
        )
        .withColumn(
            "_p",
            F.sum("_e")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    )
    prof = pin(prof)
    ex = prof.select(
        "channel",
        "n",
        "_p",
        F.expr(
            f"explode(array({', '.join(f'struct({s}L AS s, (_i div {s}) AS box, (_i % {s} + 1) AS k)' for s in sizes)}))"
        ).alias("_b"),
    ).select("channel", "n", "_p", "_b.s", "_b.box", "_b.k")
    boxes = ex.groupBy("channel", "n", "s", "box").agg(
        F.count(F.lit(1)).alias("_nb"),
        F.sum("_p").cast("long").alias("sy_"),
        F.sum(F.expr("k * _p")).cast("long").alias("sxy"),
        F.sum(F.expr("CAST(_p AS DECIMAL(38,0)) * _p")).alias("syy"),
    )
    sse_terms = []
    for s in sizes:
        sxbar = (s + 1) / 2.0
        sxx_c = s * (s * s - 1) / 12.0
        sse_terms.append(
            f"WHEN s = {s} THEN greatest(0e0, CAST(syy AS DOUBLE) "
            f"- CAST(sy_ AS DOUBLE) * sy_ / {float(s)!r} "
            f"- (CAST(sxy AS DOUBLE) - {sxbar!r} * sy_) "
            f"* (CAST(sxy AS DOUBLE) - {sxbar!r} * sy_) / {sxx_c!r})"
        )
    sse = f"CASE {' '.join(sse_terms)} END"
    per_s = (
        boxes.filter(F.col("_nb") == F.col("s"))
        .select(
            "channel",
            "n",
            "s",
            F.expr(
                f"CAST(round({sse}) AS DECIMAL(38,0))"
            ).alias("_sseq"),
        )
        .groupBy("channel", "n", "s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nb"),
            F.sum("_sseq").alias("ssum"),
        )
    )
    piv = per_s.groupBy("channel", "n").agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("ssum"))).alias(f"_S{s}")
            for s in sizes
        ],
        *[
            F.max(F.when(F.col("s") == s, F.col("nb"))).alias(f"_nb{s}")
            for s in sizes
        ],
    )
    # F(s) = sqrt(mean SSE / s) / (n·q): the profile carries the n
    # scale (P = n·Σ(y−ȳ) in q units), so divide it back out.
    f_expr = {
        s: (
            f"(sqrt(CAST(_S{s} AS DOUBLE) / (_nb{s} * {float(s)!r})) "
            f"/ (CAST(n AS DOUBLE) * {float(q)!r}))"
        )
        for s in sizes
    }
    cs = _dfa_slope_coeffs(sizes)
    alpha_sum = " + ".join(
        f"{cs[i]!r} * ln({f_expr[s]})" for i, s in enumerate(sizes)
    )
    pos = " AND ".join(f"_S{s} > 0" for s in sizes)
    return piv.select(
        "channel",
        "n",
        *[
            F.expr(f"round({f_expr[s]}, 9)").alias(f"f{s}")
            for s in sizes
        ],
        F.expr(
            f"CASE WHEN {pos} THEN round({alpha_sum}, 9) ELSE 0e0 END"
        ).alias("alpha"),
    )


def binseg_change_points(
    values: DataFrame, quant: int = 100
) -> DataFrame:
    """Two-level binary segmentation (Scott & Knott / Vostrikova's
    classic scheme): the single CUSUM change point per channel
    (:func:`change_points`'s estimator), then the same argmax applied
    to each resulting half — up to three level-shift candidates per
    channel, the standard multi-shift extension when one change point
    is not enough (regime A → B → C histories).

    Determinism: within a segment [a, b] the deviation of the prefix
    sum from the straight line joining its endpoints is kept integral
    by segment-length scaling — dev_i = L·(S_i − S_{a−1}) −
    (i − a + 1)·(S_b − S_{a−1}), L = b − a + 1 — so every argmax
    (ties → earliest index) is a pure integer order statistic. The
    reported shift is one fixed float division pair rounded to 9 dp.

    ``values`` must be the uniform day grid (the theil_sen contract),
    bounding the per-channel prefix length by the observation window.

    Output: (channel, level 0|1, seg_start, seg_end, split_i, ts,
    dev_scaled, shift) — level 0 is the global split, level 1 the
    within-half splits (halves shorter than 4 points emit nothing).

    Plan / 100 TB: one per-channel cumsum window, one level-0 argmax
    window, a broadcast of the |channels|-row split table back, one
    level-1 argmax window — the prefix sums are computed ONCE.
    """
    from pyspark.sql import Window

    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    cum = (
        values.select(
            "channel",
            "ts",
            "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("i", F.row_number().over(w).cast("long"))
        .withColumn(
            "s_i",
            F.sum("xq")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .withColumn(
            "n",
            F.count(F.lit(1))
            .over(Window.partitionBy("channel"))
            .cast("long"),
        )
        .withColumn(
            "s_n",
            F.sum("xq").over(Window.partitionBy("channel")).cast("long"),
        )
    )
    cum = pin(cum)

    def seg_dev(a, b, sa_prev, sb):
        # parenthesize the substituted bounds: a may be "_k0 + 1", so
        # unparenthesized substitution would change operator precedence
        ln = f"(({b}) - ({a}) + 1)"
        return (
            f"{ln} * (s_i - ({sa_prev})) "
            f"- (i - ({a}) + 1) * (({sb}) - ({sa_prev}))"
        )

    def argmax(seg_df, a, b, sa_prev, sb, level):
        d = seg_df.filter(
            (F.col("i") >= F.expr(a)) & (F.col("i") < F.expr(b))
        ).withColumn("_dev", F.expr(seg_dev(a, b, sa_prev, sb)))
        pick = Window.partitionBy("channel", "_sa").orderBy(
            F.abs(F.col("_dev")).desc(), "i"
        )
        shift = (
            f"(CAST(({sb}) - s_i AS DOUBLE) / CAST(({b}) - i AS DOUBLE) "
            f"- CAST(s_i - ({sa_prev}) AS DOUBLE) "
            f"/ CAST(i - ({a}) + 1 AS DOUBLE)) / {q}"
        )
        return (
            d.withColumn("_rk", F.row_number().over(pick))
            .filter(F.col("_rk") == 1)
            .select(
                "channel",
                F.lit(level).cast("long").alias("level"),
                F.expr(a).cast("long").alias("seg_start"),
                F.expr(b).cast("long").alias("seg_end"),
                F.col("i").alias("split_i"),
                "ts",
                F.col("_dev").alias("dev_scaled"),
                F.expr(f"round({shift}, 9)").alias("shift"),
            )
        )

    # level 0: the whole channel; _sa constant so the argmax window
    # partitioning matches the level-1 call shape
    lvl0 = argmax(
        cum.withColumn("_sa", F.lit(1).cast("long")), "1", "n",
        "CAST(0 AS BIGINT)", "s_n", 0,
    )
    # level 1: join the split (and the prefix sum AT the split) back
    k0 = lvl0.select(
        "channel",
        F.col("split_i").alias("_k0"),
    )
    sk0 = (
        cum.join(F.broadcast(k0), "channel")
        .filter(F.col("i") == F.col("_k0"))
        .select("channel", "_k0", F.col("s_i").alias("_sk0"))
    )
    seg = cum.join(F.broadcast(sk0), "channel").withColumn(
        "_sa",
        F.when(F.col("i") <= F.col("_k0"), F.lit(1)).otherwise(
            F.col("_k0") + 1
        ).cast("long"),
    )
    left = argmax(
        seg.filter(F.col("_k0") >= 4), "1", "_k0",
        "CAST(0 AS BIGINT)", "_sk0", 1,
    )
    right = argmax(
        seg.filter(F.col("n") - F.col("_k0") >= 4), "_k0 + 1", "n",
        "_sk0", "s_n", 1,
    )
    return lvl0.unionByName(left).unionByName(right)


def pacf3(values: DataFrame, step_us: int, quant: int = 100) -> DataFrame:
    """Partial autocorrelation at lags 1-3 via the Durbin-Levinson
    recursion (Box & Jenkins' model-identification panel): PACF cuts
    off at p for an AR(p) where the ACF tails — reading both together
    is THE order-selection procedure, completing ts_autocorrelation /
    ts_ar2_model / ts_ljungbox.

    Determinism: r1..r3 come from channel_autocorrelation's exact
    quantized moments, 9-dp rounded (engine-identical doubles); the
    Durbin-Levinson chain is then a fixed float expression over those
    identical inputs, with each level rounded to 9 dp (degenerate
    denominators report the 0.0 sentinel).

    Output: (channel, pacf1, pacf2, pacf3).
    """
    step = int(step_us)
    acf = channel_autocorrelation(
        values, (step, 2 * step, 3 * step), quant
    )
    piv = acf.groupBy("channel").agg(
        *[
            F.max(
                F.when(F.col("lag_us") == k * step, F.col("r"))
            ).alias(f"r{k}")
            for k in (1, 2, 3)
        ]
    )
    # nullif-protected denominators: the CASE guards below would be
    # enough under lazy evaluation, but Spark's subexpression
    # elimination can hoist the shared division out of the CASE and
    # trip ANSI divide-by-zero on perfectly-correlated channels
    # (r1 = 1.0); dividing by NULL instead yields NULL and the guard
    # still picks the 0.0 sentinel. DuckDB mirrors nullif.
    a22 = "((r2 - r1 * r1) / nullif(1e0 - r1 * r1, 0e0))"
    a21 = f"(r1 - {a22} * r1)"
    den3 = f"(1e0 - {a21} * r1 - {a22} * r2)"
    a33 = f"((r3 - {a21} * r2 - {a22} * r1) / nullif({den3}, 0e0))"
    return piv.select(
        "channel",
        F.expr("round(r1, 9)").alias("pacf1"),
        F.expr(
            f"CASE WHEN 1e0 - r1 * r1 != 0e0 THEN round({a22}, 9) "
            f"ELSE 0e0 END"
        ).alias("pacf2"),
        F.expr(
            f"CASE WHEN 1e0 - r1 * r1 != 0e0 AND {den3} != 0e0 "
            f"THEN round({a33}, 9) ELSE 0e0 END"
        ).alias("pacf3"),
    )


def seasonal_strength(
    values: DataFrame, step_us: int, period: int = 7, quant6: int = 10**6
) -> DataFrame:
    """Seasonal-strength summary per channel (Hyndman & Athanasopoulos'
    FPP STL-strength statistic): F_s = max(0, 1 − Var(resid) /
    Var(seasonal + resid)) over the classical decomposition — the
    one-number answer to "does this channel actually have a weekly
    cycle", thresholding which channels deserve seasonal models at
    all. Composes :func:`seasonal_decompose` (whose residual feeds
    the anomaly family) into its executive readout.

    Determinism: the decomposition's seasonal/resid doubles are
    engine-identical (its contract); both series quantize to 1e-6
    BIGINTs, moments accumulate exactly (DECIMAL(38,0) quadratics),
    and F_s is one fixed expression rounded to 9 dp (degenerate
    detrended variance reports the 0.0 sentinel).

    Output: (channel, n, seasonal_strength).

    Plan / 100 TB: seasonal_decompose's windows + one rollup.
    """
    q = int(quant6)
    dec = seasonal_decompose(values, step_us, period)
    base = dec.select(
        "channel",
        F.expr(f"CAST(round(resid * {q}) AS BIGINT)").alias("rq"),
        F.expr(
            f"CAST(round((seasonal + resid) * {q}) AS BIGINT)"
        ).alias("dq"),
    )
    g = base.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rq").cast("long").alias("sr"),
        F.sum(F.expr("CAST(rq AS DECIMAL(38,0)) * rq")).alias("srr"),
        F.sum("dq").cast("long").alias("sd"),
        F.sum(F.expr("CAST(dq AS DECIMAL(38,0)) * dq")).alias("sdd"),
    )
    vr = (
        "(CAST(srr AS DOUBLE) / n "
        "- (CAST(sr AS DOUBLE) / n) * (CAST(sr AS DOUBLE) / n))"
    )
    vd = (
        "(CAST(sdd AS DOUBLE) / n "
        "- (CAST(sd AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n))"
    )
    return g.select(
        "channel",
        "n",
        F.expr(
            f"CASE WHEN {vd} > 0e0 THEN "
            f"round(greatest(0e0, 1e0 - {vr} / {vd}), 9) "
            f"ELSE 0e0 END"
        ).alias("seasonal_strength"),
    )



# Mann-Kendall shared expression text (imported by the oracle so both
# engines evaluate the IDENTICAL fixed expression tree).
MK_VAR_S = (
    "(CAST(n_points * (n_points - 1) * (2 * n_points + 5) "
    "- tie_term AS DOUBLE) / 18e0)"
)
MK_Z = (
    f"CASE WHEN {MK_VAR_S} <= 0e0 THEN 0e0 "
    f"WHEN s_stat > 0 THEN "
    f"round((CAST(s_stat AS DOUBLE) - 1e0) / sqrt({MK_VAR_S}), 9) "
    f"WHEN s_stat < 0 THEN "
    f"round((CAST(s_stat AS DOUBLE) + 1e0) / sqrt({MK_VAR_S}), 9) "
    f"ELSE 0e0 END"
)
MK_TREND = (
    f"CASE WHEN ({MK_Z}) > 1.959963985e0 THEN 'increasing' "
    f"WHEN ({MK_Z}) < -1.959963985e0 THEN 'decreasing' "
    f"ELSE 'none' END"
)


def mann_kendall(values: DataFrame, quant: int = 100) -> DataFrame:
    """Mann-Kendall trend test per channel (Mann 1945 / Kendall 1975):
    S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected normal
    approximation — the nonparametric sibling of ts_theil_sen (which
    estimates the slope this test decides the significance of).

    ``values`` must be the uniform day grid (asof_locf contract), so
    the all-pairs sign sum is O(days²) per channel by construction —
    the ts_theil_sen scale contract.

    Determinism — all-integer to two fixed finishes: pair signs and
    the tie counts are exact integers; VarS = (n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)) / 18 is ONE fixed division of an exact BIGINT
    (n ≈ days, so the cubic stays far under 2^63); z is one
    sqrt-divide chain rounded to 9 dp (the ±1 continuity correction
    per Kendall). All-tied channels (VarS = 0) report the 0.0
    sentinel and trend 'none'.

    Output: (channel, n_points, s_stat, var_s, z, trend).

    Plan / 100 TB: one bounded self-join per channel (the theil_sen
    shape) + one groupBy over the tie table; both partial-agg to
    |channels| rows before the final broadcast join.
    """
    q = int(quant)
    v = values.select(
        "channel",
        F.col("ts").alias("t"),
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    from pennsieve_streaming_spark.util import ensure_parallelism

    v = pin(v)
    # same fix as theil_sen_slope (optimization r11): spread the
    # stream-side leg so the O(days²) sign fan-out does not run inside
    # the pinned grid's single partition
    a = ensure_parallelism(
        v.select("channel", F.col("t").alias("ti"), F.col("xq").alias("yi"))
    )
    b = F.broadcast(
        v.select("channel", F.col("t").alias("tj"), F.col("xq").alias("yj"))
    )
    s = (
        a.join(b, "channel")
        .filter(F.col("ti") < F.col("tj"))
        .groupBy("channel")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN yj > yi THEN 1 "
                    "WHEN yj < yi THEN -1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        v.groupBy("channel", "xq")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_ng"),
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
            .cast("long")
            .alias("tie_term"),
            F.sum("t").cast("long").alias("n_points"),
        )
    )
    g = s.join(F.broadcast(ties), "channel")
    return g.select(
        "channel",
        "n_points",
        "s_stat",
        F.expr(MK_VAR_S).alias("var_s"),
        F.expr(MK_Z).alias("z"),
        F.expr(MK_TREND).alias("trend"),
    )


# Benford first-digit probabilities log10(1 + 1/d), generated ONCE in
# Python so both engines consume the identical double literals (engine
# log10 is libm-vs-JVM divergent at the last ulp).
def benford_probs() -> list[float]:
    import math

    return [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford_exprs() -> tuple[str, str]:
    """(chi2, mad) fixed 9-term expression strings over columns
    c1..c9 / n and the Python-literal Benford table — shared verbatim
    between the Spark operator and the DuckDB oracle."""
    probs = benford_probs()

    def _lit(x: float) -> str:
        s = repr(float(x))
        return s if "e" in s or "E" in s else s + "e0"

    chi2 = " + ".join(
        f"(CAST(c{i} AS DOUBLE) - CAST(n AS DOUBLE) * {_lit(p)}) "
        f"* (CAST(c{i} AS DOUBLE) - CAST(n AS DOUBLE) * {_lit(p)}) "
        f"/ (CAST(n AS DOUBLE) * {_lit(p)})"
        for i, p in zip(range(1, 10), probs)
    )
    mad = " + ".join(
        f"abs(CAST(c{i} AS DOUBLE) / CAST(n AS DOUBLE) - {_lit(p)})"
        for i, p in zip(range(1, 10), probs)
    )
    return chi2, mad


def benford_digits(samples: DataFrame, quant: int = 100) -> DataFrame:
    """Benford first-significant-digit conformance per channel: the
    classic fabricated/truncated-data screen (Benford 1938; Nigrini's
    forensic MAD bands). Values spanning several orders of magnitude
    should put ~30.1% of first digits at 1; flat or synthetic feeds
    don't.

    Determinism — exact integers to two fixed finishes: the first
    digit comes from the DECIMAL STRING of the exact quantized
    integer |round(v·quant)| (integer-to-string is exact on both
    engines — no log10 in the digit path); per-digit counts pivot to
    ONE row per channel so chi² and MAD are fixed 9-term expressions
    over exact counts and the shared Python-literal Benford table,
    each rounded to 9 dp. Zero quantized values carry no leading
    digit and are excluded (n counts survivors).

    Output: (channel, n, c1..c9, chi2, mad).

    Plan / 100 TB: one partial-agg groupBy (channel, digit) — 9 rows
    per channel — then a 9-way conditional pivot; no joins, no
    windows, no shuffle beyond the two-level aggregation.
    """
    q = int(quant)
    d = samples.select(
        "channel",
        F.expr(
            f"CAST(substring(CAST(abs(CAST(round(value * {q}) AS BIGINT)) "
            f"AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit"),
    ).filter(F.col("digit") > 0)
    counts = d.groupBy("channel", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    piv = counts.groupBy("channel").agg(
        F.sum("c").cast("long").alias("n"),
        *[
            F.sum(F.expr(f"CASE WHEN digit = {i} THEN c ELSE 0 END"))
            .cast("long")
            .alias(f"c{i}")
            for i in range(1, 10)
        ],
    )
    chi2, mad = benford_exprs()
    return piv.select(
        "channel",
        "n",
        *[f"c{i}" for i in range(1, 10)],
        F.expr(
            f"CASE WHEN n > 0 THEN round({chi2}, 9) ELSE 0e0 END"
        ).alias("chi2"),
        F.expr(
            f"CASE WHEN n > 0 THEN round(({mad}) / 9e0, 9) ELSE 0e0 END"
        ).alias("mad"),
    )


# Engle-Granger shared expression text (imported by the oracle so both
# engines evaluate the IDENTICAL fixed double expression tree).
EG_BETA = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
    "/ nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0)"
)
EG_ALPHA = "(CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
EG_RESID_Q = "CAST(round(CAST(yq AS DOUBLE) - alpha - beta * xq) AS BIGINT)"
EG_GAMMA = (
    "coalesce(CAST(sed AS DOUBLE) / nullif(CAST(see AS DOUBLE), 0e0), 0e0)"
)


def engle_granger(values: DataFrame, quant: int = 100) -> DataFrame:
    """Engle-Granger cointegration screen over aligned channel pairs
    (Engle & Granger 1987, step 1 + the no-intercept Dickey-Fuller
    coefficient on the residual): two trending channels whose OLS
    residual mean-reverts share a long-run equilibrium — the pairs
    signal spurious-correlation screens need beside ts_granger_screen
    (which tests short-run incremental prediction instead).

    ``values`` must be the uniform day grid, so both passes are
    bounded by the observation window.

    Determinism: OLS moments are exact BIGINT/DECIMAL(38,0) folds;
    beta/alpha are the FIXED expression strings EG_BETA / EG_ALPHA
    (shared verbatim with the oracle); residuals re-quantize to exact
    integers via EG_RESID_Q (round of a bit-identical double), so the
    Dickey-Fuller pass Δe on e_{t-1} is again exact folds to one
    division, rounded to 9 dp. Degenerate pairs (constant x — zero
    OLS denominator) report 0.0 sentinels everywhere and cointegrated
    = false.

    Output: (ch_a, ch_b, n, beta, gamma, cointegrated) with gamma the
    DF coefficient (γ < −0.05 ⇒ the residual mean-reverts fast enough
    to call the pair cointegrated — a screen threshold, not a
    MacKinnon critical value).

    Plan / 100 TB: channel-pair equi-join on the grid ts (days ×
    pairs rows), two partial-agg groupBys, one broadcast coefficient
    join back, one lag window per pair — no quadratic anywhere.
    """
    q = int(quant)
    v = values.select(
        "channel",
        F.col("ts").alias("t"),
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("vq"),
    )
    v = pin(v)
    a = v.select(
        F.col("channel").alias("ch_a"),
        "t",
        F.col("vq").alias("xq"),
    )
    b = v.select(
        F.col("channel").alias("ch_b"),
        F.col("t").alias("tb"),
        F.col("vq").alias("yq"),
    )
    rows = a.join(
        b, (F.col("t") == F.col("tb")) & (F.col("ch_a") < F.col("ch_b"))
    ).select("ch_a", "ch_b", "t", "xq", "yq")
    mom = rows.groupBy("ch_a", "ch_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.expr("CAST(xq AS DECIMAL(38,0)) * xq")).alias("sxx"),
        F.sum(F.expr("CAST(xq AS DECIMAL(38,0)) * yq")).alias("sxy"),
    )
    coef = mom.select(
        "ch_a",
        "ch_b",
        "n",
        "sx",
        "sy",
        F.expr(f"coalesce({EG_BETA}, 0e0)").alias("beta"),
    ).select(
        "ch_a",
        "ch_b",
        "n",
        "beta",
        F.expr(EG_ALPHA).alias("alpha"),
    )
    resid = rows.join(F.broadcast(coef), ["ch_a", "ch_b"]).select(
        "ch_a",
        "ch_b",
        "t",
        F.expr(EG_RESID_Q).alias("eq"),
    )
    w = Window.partitionBy("ch_a", "ch_b").orderBy("t")
    d = (
        resid.withColumn("_prev", F.lag("eq").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "ch_a",
            "ch_b",
            F.col("_prev").alias("ep"),
            (F.col("eq") - F.col("_prev")).alias("de"),
        )
    )
    df_agg = d.groupBy("ch_a", "ch_b").agg(
        F.sum(F.expr("CAST(ep AS DECIMAL(38,0)) * de")).alias("sed"),
        F.sum(F.expr("CAST(ep AS DECIMAL(38,0)) * ep")).alias("see"),
    )
    gamma = EG_GAMMA
    return (
        coef.join(df_agg, ["ch_a", "ch_b"])
        .select(
            "ch_a",
            "ch_b",
            "n",
            F.expr("round(beta, 9)").alias("beta"),
            F.expr(f"round({gamma}, 9)").alias("gamma"),
            F.expr(f"({gamma}) < -0.05e0").alias("cointegrated"),
        )
    )


def record_counts(values: DataFrame, quant: int = 100) -> DataFrame:
    """Running-record statistics per channel: how many strict record
    highs and lows the series sets after its first point, and when
    the last of each landed. Records theory says an i.i.d. series
    sets ~ln n records — a trending feed sets Θ(n) — so the pair
    (n_record_highs, n_record_lows) is a distribution-free trend
    screen beside ts_mann_kendall (which weighs ALL pairs, not just
    the frontier).

    Determinism: record tests compare exact quantized integers
    against the exact running extreme of the PRECEDING rows (total
    order ts, value); every output is an exact integer (first-point
    sentinel −1 for channels that never break a record).

    Output: (channel, n_points, n_record_highs, n_record_lows,
    last_high_ts, last_low_ts).

    Plan / 100 TB: one per-channel running-extreme window + one
    rollup — no joins.
    """
    q = int(quant)
    w = (
        Window.partitionBy("channel")
        .orderBy("ts", "value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel",
        "ts",
        "xq",
        F.max("xq").over(w).alias("_pmax"),
        F.min("xq").over(w).alias("_pmin"),
    )
    return marked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(
            F.expr(
                "CASE WHEN _pmax IS NOT NULL AND xq > _pmax "
                "THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_record_highs"),
        F.sum(
            F.expr(
                "CASE WHEN _pmin IS NOT NULL AND xq < _pmin "
                "THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_record_lows"),
        F.coalesce(
            F.max(
                F.expr(
                    "CASE WHEN _pmax IS NOT NULL AND xq > _pmax "
                    "THEN ts END"
                )
            ),
            F.lit(-1),
        )
        .cast("long")
        .alias("last_high_ts"),
        F.coalesce(
            F.max(
                F.expr(
                    "CASE WHEN _pmin IS NOT NULL AND xq < _pmin "
                    "THEN ts END"
                )
            ),
            F.lit(-1),
        )
        .cast("long")
        .alias("last_low_ts"),
    )


def bollinger_breaks(
    samples: DataFrame, window: int = 20, k: int = 2, quant: int = 100
) -> DataFrame:
    """Bollinger-band breakout counts per channel: how often a sample
    lands more than k trailing standard deviations from the trailing
    w-sample mean (Bollinger's classic volatility envelope; the
    event-detection sibling of ts_cusum_monitor's drift alarm).

    Determinism — the whole operator is INTEGER algebra, no floats
    anywhere: with S = Σxq and SS = Σxq² over the trailing window
    (exact BIGINTs), the band test
        (x − S/n)² > k²·var,  var = (n·SS − S²)/n²
    cross-multiplies to  (n·x − S)² > k²·(n·SS − S²)  — exact 64-bit
    integers end-to-end (|n·x−S| ≤ 2n·max|xq| ≈ 4e8 squares inside
    int64 at the quantized scale). Only FULL trailing windows test
    (the first w samples per channel warm up).

    Output: (channel, n_tested, n_upper, n_lower, last_upper_ts,
    last_lower_ts) with −1 sentinels for channels that never break.

    Plan / 100 TB: one per-channel ordered window pass (two running
    sums) + one rollup — no joins, the blocked-halo rolling contract
    applies if windows must split across tasks.
    """
    w = int(window)
    q = int(quant)
    kk = int(k)
    ww = (
        Window.partitionBy("channel")
        .orderBy("ts", "value")
        .rowsBetween(-w, -1)
    )
    marked = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel",
        "ts",
        "xq",
        F.count(F.lit(1)).over(ww).alias("_wn"),
        F.sum("xq").over(ww).alias("_s"),
        F.sum(F.expr("xq * xq")).over(ww).alias("_ss"),
    ).filter(F.col("_wn") == w)
    up = f"({w} * xq - _s) > 0 AND ({w} * xq - _s) * ({w} * xq - _s) > {kk * kk} * ({w} * _ss - _s * _s)"
    lo = f"({w} * xq - _s) < 0 AND ({w} * xq - _s) * ({w} * xq - _s) > {kk * kk} * ({w} * _ss - _s * _s)"
    return marked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_tested"),
        F.sum(F.expr(f"CASE WHEN {up} THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_upper"),
        F.sum(F.expr(f"CASE WHEN {lo} THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_lower"),
        F.coalesce(
            F.max(F.expr(f"CASE WHEN {up} THEN ts END")), F.lit(-1)
        )
        .cast("long")
        .alias("last_upper_ts"),
        F.coalesce(
            F.max(F.expr(f"CASE WHEN {lo} THEN ts END")), F.lit(-1)
        )
        .cast("long")
        .alias("last_lower_ts"),
    )


# Turning-point z finish for the STANDALONE day-grid test (shared
# verbatim with the oracle; named TURN_Z because the randomness
# panel's TP_Z above already owns that name — a module-level
# redefinition would silently rewrite the panel's oracle text, the
# exact collision this rename fixes): under the i.i.d. null
# E[T] = 2(n−2)/3 and Var[T] = (16n − 29)/90.
TURN_Z = (
    "CASE WHEN n_points >= 4 THEN "
    "round((CAST(n_turns AS DOUBLE) "
    "- 2e0 * CAST(n_points - 2 AS DOUBLE) / 3e0) "
    "/ sqrt((16e0 * CAST(n_points AS DOUBLE) - 29e0) / 90e0), 9) "
    "ELSE 0e0 END"
)


def turning_points(values: DataFrame, quant: int = 100) -> DataFrame:
    """Turning-point randomness test per channel (Kendall's classic):
    count interior STRICT local extrema; an i.i.d. series has
    E[T] = 2(n−2)/3, so a large negative z (too few turns) flags
    trend/smoothness and a large positive z flags rapid alternation
    — the cheapest member of the randomness family beside
    ts_randomness_tests. Ties (flat LOCF runs) are not turns by
    documented contract.

    Determinism: turn tests compare exact quantized integers via
    lag/lead; the z is the shared TP_Z fixed finish (9 dp); channels
    with < 4 points report the 0.0 sentinel.

    Output: (channel, n_points, n_turns, z, verdict) — verdict
    'random' for |z| ≤ 1.96 else 'trending' (z < 0) / 'oscillating'.

    Plan / 100 TB: one per-channel lag/lead window + one rollup.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    marked = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel",
        "xq",
        F.lag("xq").over(w).alias("_p"),
        F.lead("xq").over(w).alias("_n"),
    )
    turn = (
        "_p IS NOT NULL AND _n IS NOT NULL AND "
        "((xq > _p AND xq > _n) OR (xq < _p AND xq < _n))"
    )
    g = marked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(F.expr(f"CASE WHEN {turn} THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_turns"),
    )
    return g.select(
        "channel",
        "n_points",
        "n_turns",
        F.expr(TURN_Z).alias("z"),
        F.expr(
            f"CASE WHEN abs({TURN_Z}) <= 1.959963985e0 THEN 'random' "
            f"WHEN ({TURN_Z}) < 0e0 THEN 'trending' "
            f"ELSE 'oscillating' END"
        ).alias("verdict"),
    )


# Katz FD shared finish (imported by the oracle): FD =
# ln(n_steps) / (ln(n_steps) + ln(d/L)), guards for degenerate paths.
# nullif-protected denominators (the pacf ANSI-hoisting rule: Spark's
# subexpression elimination can evaluate the division before the CASE
# guard) — the coalesce only fires outside the guarded branch.
KATZ_FD = (
    "CASE WHEN n_steps > 1 AND dmax > 0 AND lpath > 0 "
    "AND dmax <> lpath THEN "
    "round(coalesce(ln(CAST(n_steps AS DOUBLE)) "
    "/ nullif(ln(CAST(n_steps AS DOUBLE)) "
    "+ ln(CAST(dmax AS DOUBLE) "
    "/ nullif(CAST(lpath AS DOUBLE), 0e0)), 0e0), 0e0), 9) "
    "ELSE 0e0 END"
)


def katz_fd(values: DataFrame, quant: int = 100) -> DataFrame:
    """Katz fractal dimension per channel (Katz 1988): FD =
    log n / (log n + log(d/L)) with L the total path length Σ|Δx|
    and d the maximum excursion from the first point — the cheap
    waveform-complexity number EEG pipelines run alongside
    ts_higuchi_fd (Katz needs one pass; Higuchi needs the k-grid)
    and ts_line_length (which IS the L term).

    Determinism: L and d are exact BIGINT folds of quantized
    integers; the FD is the shared KATZ_FD fixed ln finish rounded
    to 9 dp (flat channels — d = 0 or L = 0 — and the d = L
    degenerate report the 0.0 sentinel).

    Output: (channel, n_points, lpath, dmax, fd).

    Plan / 100 TB: one per-channel lag window (Δx) + first_value +
    one rollup.
    """
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    base = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel",
        "xq",
        F.lag("xq").over(w).alias("_p"),
        F.first("xq").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_x0"),
    )
    g = base.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(
            F.expr("CASE WHEN _p IS NOT NULL THEN abs(xq - _p) ELSE 0 END")
        )
        .cast("long")
        .alias("lpath"),
        F.max(F.expr("abs(xq - _x0)")).cast("long").alias("dmax"),
    ).withColumn("n_steps", F.expr("n_points - 1").cast("long"))
    return g.select(
        "channel",
        "n_points",
        "lpath",
        "dmax",
        F.expr(KATZ_FD).alias("fd"),
    )


def max_drawdown(samples: DataFrame, quant: int = 100) -> DataFrame:
    """Maximum drawdown per channel: the deepest drop from a running
    peak — THE risk number for any cumulative/level series (equity
    curves, battery charge, reservoir level), complementing
    ts_records' frontier counts with the worst excursion BELOW the
    frontier.

    Determinism: drawdowns dd = running_max − x are exact quantized
    integers; the trough is the FIRST (min ts) row attaining the
    maximum dd (an explicit two-step agg + tie-broken pick, no
    engine-specific argmax); the fraction is one fixed division of
    exact integers rounded to 9 dp (non-positive peaks report the
    0.0 sentinel).

    Output: (channel, n_points, max_dd_q, trough_ts, peak_q,
    dd_frac).

    Plan / 100 TB: one running-max window + one rollup + one
    |channels|-row broadcast join back for the trough pick.
    """
    q = int(quant)
    w = (
        Window.partitionBy("channel")
        .orderBy("ts", "value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel",
        "ts",
        "xq",
        F.max("xq").over(w).alias("_pmax"),
    ).select(
        "channel",
        "ts",
        "xq",
        "_pmax",
        (F.col("_pmax") - F.col("xq")).alias("dd"),
    )
    rows = pin(rows)
    g = rows.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.max("dd").cast("long").alias("max_dd_q"),
    )
    trough = (
        rows.join(
            F.broadcast(g.select("channel", "max_dd_q")), "channel"
        )
        .filter(F.col("dd") == F.col("max_dd_q"))
        .groupBy("channel")
        .agg(
            F.min("ts").cast("long").alias("trough_ts"),
        )
    )
    # peak at the trough: among rows at (trough_ts, dd = max_dd) the
    # MIN-xq row is the deterministic pick, and its running peak is
    # algebraically max_dd + xq — no engine-specific argmax anywhere
    peak = (
        rows.join(
            F.broadcast(
                trough.select(
                    "channel", F.col("trough_ts").alias("_tts")
                ).join(
                    g.select("channel", F.col("max_dd_q").alias("_mdd")),
                    "channel",
                )
            ),
            "channel",
        )
        .filter(
            (F.col("ts") == F.col("_tts"))
            & (F.col("dd") == F.col("_mdd"))
        )
        .groupBy("channel")
        .agg(
            F.expr("CAST(min(xq) + min(dd) AS BIGINT)").alias("peak_q")
        )
    )
    return (
        g.join(F.broadcast(trough), "channel")
        .join(F.broadcast(peak), "channel")
        .select(
            "channel",
            "n_points",
            "max_dd_q",
            "trough_ts",
            "peak_q",
            F.expr(
                "CASE WHEN peak_q > 0 THEN "
                "round(CAST(max_dd_q AS DOUBLE) "
                "/ CAST(peak_q AS DOUBLE), 9) ELSE 0e0 END"
            ).alias("dd_frac"),
        )
    )


def variogram(
    values: DataFrame,
    step_us: int,
    lags: tuple[int, ...] = (1, 2, 4, 7, 14),
    quant: int = 100,
) -> DataFrame:
    """Empirical semivariogram per channel on the uniform day grid:
    γ(h) = Σ (x_{t+h} − x_t)² / (2N_h) over all pairs at lag h days
    (Matheron's classic estimator) — the geostatistics view of
    temporal structure: γ rising to a sill ⇒ finite-range
    correlation; unbounded growth ⇒ trend/random-walk. The spatial-
    stats sibling of ts_allan_variance's block-mean curve.

    Determinism: squared increments are exact integers (BIGINT-safe:
    |Δxq|² ≤ 4·max|xq|² ≈ 4e14, × days ≈ 1e18 under DECIMAL(38,0)
    then cast back); γ is ONE fixed division of exact integers.

    Output: (channel, lag_days, n_pairs, semivariance).

    Plan / 100 TB: the cross-correlation shape — one narrow ×|lags|
    map, one ts-shifted self equi-join per channel, partial-agg to
    |channels|×|lags| rows.
    """
    q = int(quant)
    step = int(step_us)
    v = values.select(
        "channel",
        "ts",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    v = pin(v)
    lag_arr = ", ".join(str(int(d)) for d in lags)
    lagged = v.select(
        "channel",
        F.explode(F.expr(f"array({lag_arr})")).alias("lag_days"),
        F.col("ts").alias("ts_b"),
        F.col("xq").alias("xb"),
    )
    pairs = v.alias("a").join(
        lagged.alias("l"),
        F.expr("a.channel = l.channel")
        & F.expr(f"a.ts = l.ts_b - CAST(l.lag_days AS BIGINT) * {step}"),
    )
    g = pairs.groupBy(
        F.expr("a.channel").alias("channel"),
        F.col("lag_days").cast("long").alias("lag_days"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.expr(
                "CAST(l.xb - a.xq AS DECIMAL(38,0)) * (l.xb - a.xq)"
            )
        ).alias("_ssq"),
    )
    return g.select(
        "channel",
        "lag_days",
        "n_pairs",
        F.expr(
            "CAST(CAST(_ssq AS BIGINT) AS DOUBLE) "
            "/ CAST(2 * n_pairs AS DOUBLE)"
        ).alias("semivariance"),
    )


def sma_crossovers(
    samples: DataFrame,
    fast: int = 20,
    slow: int = 50,
    quant: int = 100,
) -> DataFrame:
    """Moving-average crossover events per channel (the golden-cross/
    death-cross detector): count sign changes of SMA_fast − SMA_slow
    and timestamp the last one each way — the trend-following event
    stream beside ts_bollinger_breaks' band events.

    Determinism — pure integer algebra: with S_f = Σ over the
    trailing ``fast`` samples and S_s over ``slow`` (exact BIGINTs),
    sign(SMA_f − SMA_s) = sign(slow·S_f − fast·S_s) — an exact int64
    (≤ 50·20·max|xq| ≈ 1e10 per term, sums ≤ 2e10 × max|xq|… well
    inside int64 at the quantized scale). A crossover is a strict
    sign change between consecutive FULL-window rows (zero-touch
    rows carry the previous sign by documented contract — no event
    until the sign actually flips).

    Output: (channel, n_tested, n_golden, n_death, last_golden_ts,
    last_death_ts) with −1 sentinels.

    Plan / 100 TB: one per-channel ordered window pass (two running
    sums + one lag over the derived sign) + one rollup.
    """
    f = int(fast)
    s = int(slow)
    q = int(quant)
    wf = (
        Window.partitionBy("channel")
        .orderBy("ts", "value")
        .rowsBetween(-(f - 1), 0)
    )
    ws = (
        Window.partitionBy("channel")
        .orderBy("ts", "value")
        .rowsBetween(-(s - 1), 0)
    )
    base = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel",
        "ts",
        "value",
        F.count(F.lit(1)).over(ws).alias("_wn"),
        F.sum("xq").over(wf).alias("_sf"),
        F.sum("xq").over(ws).alias("_ss"),
    ).filter(F.col("_wn") == s)
    # carry the previous NONZERO sign through zero-touch rows via a
    # running last-nonzero (the LOCF trick on the sign column)
    d = base.select(
        "channel",
        "ts",
        "value",
        F.expr(
            f"CASE WHEN {s} * _sf - {f} * _ss > 0 THEN 1 "
            f"WHEN {s} * _sf - {f} * _ss < 0 THEN -1 ELSE 0 END"
        ).alias("_sgn"),
    )
    wl = (
        Window.partitionBy("channel")
        .orderBy("ts", "value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = d.select(
        "channel",
        "ts",
        "_sgn",
        F.last(
            F.expr("CASE WHEN _sgn <> 0 THEN _sgn END"), ignorenulls=True
        )
        .over(wl)
        .alias("_prev"),
    )
    gold = "_sgn = 1 AND _prev = -1"
    death = "_sgn = -1 AND _prev = 1"
    return marked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_tested"),
        F.sum(F.expr(f"CASE WHEN {gold} THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_golden"),
        F.sum(F.expr(f"CASE WHEN {death} THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_death"),
        F.coalesce(
            F.max(F.expr(f"CASE WHEN {gold} THEN ts END")), F.lit(-1)
        )
        .cast("long")
        .alias("last_golden_ts"),
        F.coalesce(
            F.max(F.expr(f"CASE WHEN {death} THEN ts END")), F.lit(-1)
        )
        .cast("long")
        .alias("last_death_ts"),
    )


# --- round-10 additions: volatility / SPC / two-sample tests ----------


ARCH_CHI2_5PCT = 3.841  # chi-square(1) 5% critical value


def arch_lm(values: DataFrame, quant: int = 100) -> DataFrame:
    """Engle's ARCH(1) LM test per channel (Engle 1982): regress the
    squared demeaned series on its own lag; LM = n_pairs · R² against
    the χ²(1) 5% critical value 3.841. The volatility-clustering
    screen — a significant LM says variance is autocorrelated (bursts
    of turbulence), the precondition for any GARCH-style model and a
    red flag for iid-noise assumptions downstream.

    Determinism: e_t = xq − round(mean) is an exact BIGINT (the
    rounded integer mean keeps s_t = e_t² within BIGINT and the
    lag-1 cross-moments within DECIMAL(38,0), where the KPSS n-scale
    trick would overflow int128 on squared squares); all five
    regression moments accumulate exactly; R² is ONE fixed float
    expression of the cast moments rounded to 9 dp.

    Output: (channel, n_pairs, lm_stat, arch_present).

    Plan / 100 TB: one groupBy for (n, Σ), a broadcast join back, one
    per-channel lag window, one partial-agg groupBy to |channels|
    rows.
    """
    q = int(quant)
    base = values.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    )
    tot = base.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("xq").cast("long").alias("_sy"),
    )
    w = Window.partitionBy("channel").orderBy("ts", "value")
    s = (
        base.join(F.broadcast(tot), "channel")
        .select(
            "channel",
            "ts",
            "value",
            F.expr(
                "(xq - CAST(round(CAST(_sy AS DOUBLE) / _n) AS BIGINT))"
            ).alias("_e"),
        )
        .select(
            "channel", "ts", "value", F.expr("_e * _e").alias("_s")
        )
        .select(
            "channel",
            "_s",
            F.lag("_s").over(w).alias("_sp"),
        )
        .filter(F.col("_sp").isNotNull())
    )
    g = s.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        # DECIMAL(38,0) accumulation: each _s = e^2 can reach ~1.4e14
        # at the quantized ceiling, so a BIGINT sum silently wraps
        # past ~64k high-amplitude rows (non-ANSI) or errors (ANSI).
        # Matches process_capability's _sxx convention.
        F.sum(F.expr("CAST(_s AS DECIMAL(38,0))")).alias("_sy1"),
        F.sum(F.expr("CAST(_sp AS DECIMAL(38,0))")).alias("_sx1"),
        F.sum(F.expr("CAST(_s AS DECIMAL(38,0)) * _sp")).alias("_sxy"),
        F.sum(F.expr("CAST(_sp AS DECIMAL(38,0)) * _sp")).alias("_sxx"),
        F.sum(F.expr("CAST(_s AS DECIMAL(38,0)) * _s")).alias("_syy"),
    )
    # R² of the lag-1 regression from the exact moments — every term
    # cast to DOUBLE first (HUGEINT→DOUBLE rounding is deterministic),
    # then one fixed expression
    r2 = (
        "(CASE WHEN (n_pairs * CAST(_sxx AS DOUBLE) "
        "- CAST(_sx1 AS DOUBLE) * _sx1) "
        "* (n_pairs * CAST(_syy AS DOUBLE) "
        "- CAST(_sy1 AS DOUBLE) * _sy1) > 0e0 THEN "
        "(n_pairs * CAST(_sxy AS DOUBLE) "
        "- CAST(_sx1 AS DOUBLE) * _sy1) "
        "* (n_pairs * CAST(_sxy AS DOUBLE) "
        "- CAST(_sx1 AS DOUBLE) * _sy1) "
        "/ ((n_pairs * CAST(_sxx AS DOUBLE) "
        "- CAST(_sx1 AS DOUBLE) * _sx1) "
        "* (n_pairs * CAST(_syy AS DOUBLE) "
        "- CAST(_sy1 AS DOUBLE) * _sy1)) ELSE 0e0 END)"
    )
    return g.select(
        "channel",
        "n_pairs",
        F.expr(f"round(n_pairs * {r2}, 9)").alias("lm_stat"),
        F.expr(f"round(n_pairs * {r2}, 9) > {ARCH_CHI2_5PCT}").alias(
            "arch_present"
        ),
    )


CPK_CAPABLE_MIN = 1.33  # the conventional "capable process" floor


def process_capability(
    values: DataFrame, lsl: float, usl: float, quant: int = 100
) -> DataFrame:
    """Process-capability indices per channel (the SPC panel):
    Cp = (USL − LSL) / 6σ — potential capability if centered;
    Cpk = min(USL − μ, μ − LSL) / 3σ — actual capability where the
    process sits. Pairs with ts_cusum_monitor / ts_bollinger_breaks
    (which detect drift events) by scoring the steady-state margin
    against fixed spec limits.

    Determinism: μ and σ come from exact quantized-integer moments
    (Σx BIGINT, Σx² DECIMAL(38,0) — the kpss_stat accumulator class);
    Cp/Cpk are fixed sqrt-division expressions rounded to 9 dp
    (zero variance reports the 0.0 sentinel and capable = false).

    Output: (channel, n, mean_v, sd_v, cp, cpk, capable).

    Plan / 100 TB: ONE partial-agg groupBy to |channels| rows — no
    window, no join.
    """
    q = int(quant)
    g = values.select(
        "channel",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("_sx"),
        F.sum(F.expr("CAST(xq AS DECIMAL(38,0)) * xq")).alias("_sxx"),
    )
    var = (
        "(CAST(_sxx AS DOUBLE) / n "
        "- (CAST(_sx AS DOUBLE) / n) * (CAST(_sx AS DOUBLE) / n))"
    )
    qq = float(q)
    mean_v = f"(CAST(_sx AS DOUBLE) / n / {qq})"
    sd_v = f"(sqrt({var}) / {qq})"
    return g.select(
        "channel",
        "n",
        F.expr(f"round({mean_v}, 9)").alias("mean_v"),
        F.expr(
            f"CASE WHEN {var} > 0e0 THEN round({sd_v}, 9) ELSE 0e0 END"
        ).alias("sd_v"),
        F.expr(
            f"CASE WHEN {var} > 0e0 THEN "
            f"round(({usl!r} - {lsl!r}) / (6e0 * {sd_v}), 9) "
            "ELSE 0e0 END"
        ).alias("cp"),
        F.expr(
            f"CASE WHEN {var} > 0e0 THEN "
            f"round(least({usl!r} - {mean_v}, {mean_v} - {lsl!r}) "
            f"/ (3e0 * {sd_v}), 9) ELSE 0e0 END"
        ).alias("cpk"),
        F.expr(
            f"CASE WHEN {var} > 0e0 THEN "
            f"round(least({usl!r} - {mean_v}, {mean_v} - {lsl!r}) "
            f"/ (3e0 * {sd_v}), 9) >= {CPK_CAPABLE_MIN} "
            "ELSE false END"
        ).alias("capable"),
    )


KS_C_5PCT = 1.358  # two-sample KS 5% coefficient


def ks_two_sample(
    values: DataFrame, chan_a: str, chan_b: str, quant: int = 100
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test between two channels'
    value distributions: D = sup |F_a − F_b| over the pooled value
    grid, with the large-sample 5% rejection rule
    D > 1.358·√((n_a+n_b)/(n_a·n_b)). The distribution-level
    same-source? screen next to ts_distribution_drift's binned PSI —
    KS is bin-free and exact.

    Determinism: per-value counts are exact; the supremum is taken on
    the INTEGER cross-difference |n_b·cum_a − n_a·cum_b| (no division
    until the one rounded finish), cumulated with the two-phase
    ``util.global_cumsum`` (never a single-task global window).

    Output: one row (channel_a, channel_b, n_a, n_b, d_num, d_stat,
    reject_5pct) — d_num is the integer supremum numerator.

    Plan / 100 TB: one partial-agg groupBy to |distinct values| rows,
    the two-phase cumsum over that bounded grid, one final agg.
    """
    from pennsieve_streaming_spark.util import global_cumsum

    q = int(quant)
    per = (
        values.filter(F.col("channel").isin([chan_a, chan_b]))
        .select(
            "channel",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .groupBy("xq")
        .agg(
            F.sum(
                F.when(F.col("channel") == chan_a, 1).otherwise(0)
            ).cast("long").alias("ca"),
            F.sum(
                F.when(F.col("channel") == chan_b, 1).otherwise(0)
            ).cast("long").alias("cb"),
        )
    )
    ca = global_cumsum(per, [F.asc("xq")], "ca", "cum_a")
    both = global_cumsum(ca, [F.asc("xq")], "cb", "cum_b")
    # supremum needs the totals; take them in a first agg, then the
    # integer cross-difference max in a second pass over the grid
    tot = both.agg(
        F.max("cum_a").cast("long").alias("n_a"),
        F.max("cum_b").cast("long").alias("n_b"),
    )
    j = both.crossJoin(F.broadcast(tot))
    out = j.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max(F.expr("abs(n_b * cum_a - n_a * cum_b)"))
        .cast("long")
        .alias("d_num"),
    )
    d = "(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b))"
    return out.filter(F.col("n_a").isNotNull()).select(
        F.lit(chan_a).alias("channel_a"),
        F.lit(chan_b).alias("channel_b"),
        "n_a",
        "n_b",
        "d_num",
        F.expr(f"round({d}, 9)").alias("d_stat"),
        F.expr(
            f"{d} > {KS_C_5PCT} * sqrt((n_a + CAST(n_b AS DOUBLE)) "
            "/ (CAST(n_a AS DOUBLE) * n_b))"
        ).alias("reject_5pct"),
    )
