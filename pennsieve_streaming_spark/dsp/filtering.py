"""Butterworth filtering as a Spark operator (G1-G3).

IIR filtering is a sequential recurrence — the one genuinely
non-embarrassingly-parallel operator in the reference. Parallelism
therefore comes from channels (and contiguous spans within a channel),
never from within a span: each (channel, span) flows through one
pandas group, ordered by ts, exactly like the reference routes each
channel's stream through one stateful iirj cascade
(query/TimeSeriesQueryRawHttp.scala:148-180).

Reference semantics reproduced:
- reset-on-discontinuity: a new filter state whenever the gap to the
  previous sample exceeds 100 sample periods
  (query/TimeSeriesQueryRawHttp.scala:155-167; FilterStateTracker).
  In batch mode each contiguous run is filtered independently —
  strictly better than the reference's cross-request carry.
- reflected prewarm: before each run, padLength =
  ceil((rate/cutoff)*8*(1+(order-1)*0.5)) reflected samples warm the
  filter and are discarded (applyFilterWithPadding, :220-313).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from pennsieve_streaming_spark.datamodel import FILTER_RESET_SAMPLE_PERIODS
from pennsieve_streaming_spark.dsp.butterworth import (
    butter_sos,
    filter_transient_length,
    reflected_prewarm,
    sosfilt,
    sosfilt_lanes,
)


@dataclass(frozen=True)
class FilterSpec:
    """A FilterRequest: type + [order, freq, width?]
    (reference server/TSJsonSupport.scala FilterRequest,
    server/TimeSeriesFlow.scala:921-948)."""

    btype: str                 # lowpass | highpass | bandpass | bandstop
    order: int
    freq: float                # cutoff (lp/hp) or center (bp/bs), Hz
    width: float | None = None  # band width, Hz

    @property
    def max_freq(self) -> float:
        """Frequency used for the transient-length estimate (the
        reference tracks the filter's max frequency)."""
        return self.freq if self.width is None else self.freq + self.width / 2


def _filter_run(values: np.ndarray, sos: np.ndarray, pad: int) -> np.ndarray:
    warm = reflected_prewarm(values, pad)
    _, state = sosfilt(sos, warm)           # warm up, discard output
    out, _ = sosfilt(sos, values, zi=state)
    return out


def apply_filter(
    samples: DataFrame,
    spec: FilterSpec,
    rate_hz: float,
    prewarm: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Filter each channel's stream, resetting state at discontinuities
    > 100 sample periods. Input/output: (channel, ts, value).

    Scale design: one shuffle (hash on channel) + in-partition sort,
    then a SINGLE streaming pass over Arrow batches with SOS state
    carried across batch boundaries (``sosfilt`` zi). Peak task memory
    is one Arrow batch plus a <= pad-sample prewarm buffer — a
    billion-sample channel filters in bounded memory, unlike a
    groupBy/applyInPandas formulation that materializes the whole
    channel as one pandas group. Output is bit-identical to filtering
    each contiguous run in one shot (chunk-continuity property,
    tests/test_dsp.py).

    ``num_partitions``: hash partitioning collides — with #channels ≈
    #partitions the worst partition draws several whole channels
    (birthday bound). Bulk jobs should over-partition to ~8× the
    channel count; queries over a few channels can leave the default.
    """
    sos = butter_sos(spec.order, spec.freq, rate_hz, spec.btype, spec.width)
    pad = (
        filter_transient_length(spec.order, spec.max_freq, rate_hz)
        if prewarm
        else 0
    )
    gap_us = FILTER_RESET_SAMPLE_PERIODS / rate_hz * 1e6

    def run_partition(batches) -> "pd.DataFrame":
        chan = None          # channel of the open run
        last_ts = None       # last sample ts of the open run
        state = None         # zi once the run is warmed; None = buffering
        buf: list[pd.DataFrame] = []   # run head awaiting prewarm
        buf_n = 0

        def close_run():
            """Finalize a run that ended before reaching pad samples:
            the whole run is buffered, so the reference's short-run
            prewarm casework applies exactly."""
            nonlocal buf, buf_n
            if not buf_n:
                return None
            pdf = pd.concat(buf, ignore_index=True)
            vals = pdf["value"].to_numpy(dtype=float)
            pdf["value"] = _filter_run(vals, sos, pad)
            buf, buf_n = [], 0
            return pdf

        def feed(piece: pd.DataFrame):
            """One contiguous piece of the current run."""
            nonlocal state, buf, buf_n
            if state is not None:
                vals = piece["value"].to_numpy(dtype=float)
                out, state_new = sosfilt(sos, vals, zi=state)
                state = state_new
                piece = piece.copy()
                piece["value"] = out
                return piece
            buf.append(piece)
            buf_n += len(piece)
            if buf_n >= max(pad, 1):
                pdf = pd.concat(buf, ignore_index=True)
                buf, buf_n = [], 0
                vals = pdf["value"].to_numpy(dtype=float)
                warm = reflected_prewarm(vals, pad)
                _, st = sosfilt(sos, warm)
                out, state_new = sosfilt(sos, vals, zi=st)
                state = state_new
                pdf["value"] = out
                return pdf
            return None

        for pdf in batches:
            pdf = pdf[["channel", "ts", "value"]]
            for ch, g in pdf.groupby("channel", sort=False):
                ts = g["ts"].to_numpy()
                if ch != chan:
                    done = close_run()
                    if done is not None:
                        yield done
                    chan, state, last_ts = ch, None, None
                # split at discontinuities, including the batch seam
                diffs = np.diff(ts)
                breaks = np.flatnonzero(diffs > gap_us) + 1
                pieces = np.split(np.arange(len(ts)), breaks)
                for k, seg in enumerate(pieces):
                    if len(seg) == 0:
                        continue
                    seam_gap = (
                        k == 0
                        and last_ts is not None
                        and ts[seg[0]] - last_ts > gap_us
                    )
                    if (k > 0) or seam_gap:
                        done = close_run()
                        if done is not None:
                            yield done
                        state = None
                    done = feed(g.iloc[seg])
                    if done is not None:
                        yield done
                last_ts = ts[-1] if len(ts) else last_ts
        done = close_run()
        if done is not None:
            yield done

    selected = samples.select("channel", "ts", "value")
    repartitioned = (
        selected.repartition(num_partitions, "channel")
        if num_partitions
        else selected.repartition("channel")
    )
    return repartitioned.sortWithinPartitions("channel", "ts").mapInPandas(
        run_partition, schema="channel string, ts long, value double"
    )


def apply_filter_bulk(
    samples: DataFrame,
    spec: FilterSpec,
    rate_hz: float,
    prewarm: bool = True,
    n_groups: int | None = None,
) -> DataFrame:
    """Lane-vectorized batch filter for MANY bounded channels.

    Channels hash into ``n_groups`` buckets; inside each pandas group
    every contiguous run becomes one LANE of a 2D recurrence
    (``sosfilt_lanes``): per sample step, one numpy op serves all
    lanes, amortizing Python interpreter overhead across channels
    (~4×/core at L=64 vs the scalar loop; scipy's C kernel when
    present). Outputs are bit-identical to ``apply_filter`` — lanes
    are elementwise-independent IEEE ops.

    Regime: each group's samples must fit in task memory — the
    many-short-channels shape (per-electrode snippets, spike windows,
    trial epochs). Unbounded channel histories belong to
    ``apply_filter``'s streaming pass instead.
    """
    sos = butter_sos(spec.order, spec.freq, rate_hz, spec.btype, spec.width)
    pad = (
        filter_transient_length(spec.order, spec.max_freq, rate_hz)
        if prewarm
        else 0
    )
    gap_us = FILTER_RESET_SAMPLE_PERIODS / rate_hz * 1e6

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pdf[["channel", "ts", "value"]]
        pdf = pdf.sort_values(["channel", "ts"]).reset_index(drop=True)
        ch = pdf["channel"].to_numpy()
        ts = pdf["ts"].to_numpy()
        vals = pdf["value"].to_numpy(dtype=float)
        new_run = np.empty(len(pdf), dtype=bool)
        new_run[0] = True
        new_run[1:] = (ch[1:] != ch[:-1]) | (np.diff(ts) > gap_us)
        starts = np.flatnonzero(new_run)
        ends = np.append(starts[1:], len(pdf))
        lanes = len(starts)
        max_len = int((ends - starts).max())
        X = np.zeros((lanes, max_len))
        W = np.zeros((lanes, pad))
        for i, (s, e) in enumerate(zip(starts, ends)):
            x = vals[s:e]
            X[i, : e - s] = x
            if pad:
                W[i, :] = reflected_prewarm(x, pad)
        _, st = sosfilt_lanes(sos, W)
        Y, _ = sosfilt_lanes(sos, X, zi=st)
        out = np.empty(len(pdf))
        for i, (s, e) in enumerate(zip(starts, ends)):
            out[s:e] = Y[i, : e - s]
        pdf["value"] = out
        return pdf[["channel", "ts", "value"]]

    from pyspark.sql import functions as F

    if n_groups is None:
        n_groups = samples.sparkSession.sparkContext.defaultParallelism * 2
    return (
        samples.select("channel", "ts", "value")
        .withColumn("_g", F.abs(F.hash("channel")) % F.lit(n_groups))
        .groupBy("_g")
        .applyInPandas(run, schema="channel string, ts long, value double")
    )


def ewma_filter(samples, alpha: float):
    """Exponentially-weighted moving average per channel — the
    first-order IIR smoother (y_0 = x_0; y_i = α·x_i + (1-α)·y_{i-1})
    every monitoring dashboard derives client-side, served engine-side
    like the Butterworth path.

    Sequential by nature (same class as apply_filter): runs per
    channel via applyInPandas in (ts, value) order. The recurrence is
    two multiplies + one add per sample in a fixed order, so the
    DuckDB oracle replays it bit-exactly with a recursive CTE. Prefer
    α with an exact binary representation (0.125, 0.25...) so the
    coefficients themselves carry no decimal-conversion noise.

    100 TB note: one task per channel, the reference's own execution
    shape for stateful filters (admission-guarded upstream); for
    unbounded histories carry state across chunks exactly as
    ``apply_filter`` does with its sosfilt zi.

    Output: (channel, ts, value, ewma).
    """
    import numpy as np
    import pandas as pd

    a = float(alpha)
    b = 1.0 - a

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        x = pdf["value"].to_numpy(dtype=np.float64)
        y = np.empty_like(x)
        if len(x):
            y[0] = x[0]
        for i in range(1, len(x)):
            y[i] = a * x[i] + b * y[i - 1]
        return pd.DataFrame(
            {
                "channel": pdf["channel"],
                "ts": pdf["ts"],
                "value": pdf["value"],
                "ewma": y,
            }
        )

    return samples.groupBy("channel").applyInPandas(
        run, "channel string, ts long, value double, ewma double"
    )


def holt_filter(samples, alpha: float, beta: float):
    """Holt double-exponential smoothing (level + trend) per channel —
    the standard drift-aware extension of :func:`ewma_filter` used for
    short-horizon forecasting / baseline tracking (Holt 1957):

        l_0 = x_0,  t_0 = 0.0
        l_i = α·x_i + (1−α)·(l_{i−1} + t_{i−1})
        t_i = β·(l_i − l_{i−1}) + (1−β)·t_{i−1}

    Sequential by nature (same class as ewma_filter): per channel via
    applyInPandas in (ts, value) order. Every step is a fixed sequence
    of IEEE ops, so the DuckDB oracle replays it bit-exactly with a
    recursive CTE carrying (level, trend); the oracle recomputes l_i
    inside the trend expression with the IDENTICAL op sequence, which
    yields the identical double. Prefer α/β with exact binary
    representations (0.25, 0.125) so the coefficients carry no
    decimal-conversion noise.

    100 TB note: one task per channel (admission-guarded upstream,
    the reference's own stateful-filter execution shape); unbounded
    histories chunk with (level, trend) carried as state exactly like
    apply_filter's sosfilt zi.

    Output: (channel, ts, value, level, trend, forecast) with
    forecast = level + trend (the one-step-ahead prediction).
    """
    import numpy as np
    import pandas as pd

    a = float(alpha)
    b = 1.0 - a
    g = float(beta)
    d = 1.0 - g

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        x = pdf["value"].to_numpy(dtype=np.float64)
        lvl = np.empty_like(x)
        trd = np.empty_like(x)
        if len(x):
            lvl[0] = x[0]
            trd[0] = 0.0
        for i in range(1, len(x)):
            l_new = a * x[i] + b * (lvl[i - 1] + trd[i - 1])
            trd[i] = g * (l_new - lvl[i - 1]) + d * trd[i - 1]
            lvl[i] = l_new
        return pd.DataFrame(
            {
                "channel": pdf["channel"],
                "ts": pdf["ts"],
                "value": pdf["value"],
                "level": lvl,
                "trend": trd,
                "forecast": lvl + trd,
            }
        )

    return samples.groupBy("channel").applyInPandas(
        run,
        "channel string, ts long, value double, level double, "
        "trend double, forecast double",
    )


def decimate(
    samples: DataFrame,
    spec: "FilterSpec",
    rate_hz: float,
    factor: int,
) -> DataFrame:
    """Anti-aliased downsample: Butterworth lowpass (``spec`` should
    cut below ``rate_hz / (2*factor)``) followed by keeping every
    ``factor``-th sample per channel in (ts, value) order — the
    scipy.signal.decimate shape on the engine's own filter path.

    Unlike the min/max pixel downsample (which preserves extremes for
    display), decimation preserves the band-limited waveform for
    further DSP. Output: (channel, ts, value) at 1/factor the rate.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    filtered = apply_filter(samples, spec, rate_hz)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    return (
        filtered.withColumn("_rn", F.row_number().over(w) - 1)
        .filter((F.col("_rn") % int(factor)) == 0)
        .drop("_rn")
    )


def holt_anomalies(samples, alpha: float, beta: float, k: float = 2.0):
    """Model-based anomaly detection: flag samples whose one-step-ahead
    Holt forecast error falls outside a robust per-channel envelope —
    the classic forecasting-residual detector (a drifting baseline is
    absorbed by the model, so only genuine surprises flag, unlike the
    raw z-score/MAD screens in operators/stats.py).

    residual_i = value_i − forecast_{i−1} (the prediction made BEFORE
    seeing value_i; each channel's first sample has no prediction and
    is exempt). The envelope is median ± k·MAD of the residuals, both
    via the explicit order-statistic interpolation of
    ``channel_percentiles`` (bit-identical cross-engine); residuals
    themselves are bit-exact (fixed-op-order recurrence), so the flag
    comparison is engine-identical with no quantization.

    Output (flagged rows only): (channel, ts, value, pred, residual,
    med, mad).

    Plan: the sequential part is the per-channel Holt pass; everything
    after is windows + two ranking passes + broadcast joins of
    |channels|-row envelopes.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pennsieve_streaming_spark.operators.stats import (
        channel_percentiles,
    )
    from pennsieve_streaming_spark.util import pin

    h = holt_filter(samples, alpha, beta)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    # materialize the residual table once (optimization r11): it feeds
    # the median, the MAD deviation pass, and the final filter — three
    # references, each of which used to replay the per-channel Holt
    # recurrence (a sequential pandas stage over every sample). The
    # Python boundary runs once.
    r = pin(
        h.withColumn("pred", F.lag("forecast").over(w))
        .filter(F.col("pred").isNotNull())
        .select(
            "channel",
            "ts",
            "value",
            "pred",
            (F.col("value") - F.col("pred")).alias("residual"),
        )
    )
    med = channel_percentiles(
        r.select("channel", "ts", F.col("residual").alias("value")), (0.5,)
    ).select("channel", F.col("p50").alias("med"))
    dev = r.join(F.broadcast(med), "channel").select(
        "channel",
        "ts",
        F.abs(F.col("residual") - F.col("med")).alias("value"),
    )
    mad = channel_percentiles(dev, (0.5,)).select(
        "channel", F.col("p50").alias("mad")
    )
    return (
        r.join(F.broadcast(med), "channel")
        .join(F.broadcast(mad), "channel")
        .filter(
            F.abs(F.col("residual") - F.col("med"))
            > F.lit(float(k)) * F.col("mad")
        )
        .select("channel", "ts", "value", "pred", "residual", "med", "mad")
    )


def cusum_walk(values, mu0: float, k: float, h: float, gp: float, gn: float):
    """The ONE clamp-at-zero CUSUM recurrence shared by the batch
    operator and the streaming twin (streaming/cusum.py) — the
    bit-exactness contract (same fixed IEEE op sequence as the DuckDB
    recursive CTE) lives in exactly one place. Returns the per-sample
    (gpos, gneg, alarm) arrays plus the post-reset carry pair."""
    import numpy as np

    x = np.asarray(values, dtype=np.float64)
    gpos = np.empty_like(x)
    gneg = np.empty_like(x)
    alarm = np.empty(len(x), dtype=bool)
    for i in range(len(x)):
        raw_gp = (gp + (x[i] - mu0)) - k
        e_gp = raw_gp if raw_gp > 0.0 else 0.0
        raw_gn = (gn + (mu0 - x[i])) - k
        e_gn = raw_gn if raw_gn > 0.0 else 0.0
        a = e_gp > h or e_gn > h
        gpos[i], gneg[i], alarm[i] = e_gp, e_gn, a
        gp, gn = (0.0, 0.0) if a else (e_gp, e_gn)
    return gpos, gneg, alarm, float(gp), float(gn)


def cusum_monitor(samples, params: dict):
    """Tabular (two-sided) CUSUM control monitor (Page 1954, "Continuous
    Inspection Schemes"): per channel, the running one-sided sums

        g+_i = max(0, g+_{i-1} + (x_i - mu0) - k)
        g-_i = max(0, g-_{i-1} + (mu0 - x_i) - k)

    with an alarm when either statistic exceeds the decision limit
    ``h``, after which BOTH sums reset to 0 and detection restarts —
    the classic online mean-shift detector, the sequential counterpart
    of the offline CUSUM argmax in operators/stats.change_points
    (which locates ONE retrospective change; this one monitors forever
    with O(1) state).

    ``params`` maps channel -> (mu0, k, h): the in-control mean, the
    slack (typically sigma/2) and the decision limit (typically 4-5
    sigma), calibrated offline per channel. Channels without an entry
    are dropped (only calibrated channels are monitored — the
    admission convention of the stateful-filter family).

    Determinism: the recurrence is a fixed IEEE op sequence
    ``((g + (x - mu0)) - k)`` clamped at 0.0, so a DuckDB recursive
    CTE replays it bit-exactly (the ewma/holt oracle class). Emitted
    g+/g- are the PRE-reset values; the carried state is post-reset.

    100 TB note: one task per channel (the stateful-filter execution
    shape, admission-guarded upstream); unbounded histories carry
    (g+, g-) across chunks exactly like apply_filter's sosfilt zi —
    the streaming twin (streaming/cusum.cusum_stream) does precisely
    that per micro-batch.

    Output: (channel, ts, value, gpos, gneg, alarm).
    """
    import pandas as pd

    from pyspark.sql import functions as F

    cfg = {str(c): (float(m), float(k), float(h)) for c, (m, k, h) in params.items()}

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        mu0, k, h = cfg[pdf["channel"].iloc[0]]
        gpos, gneg, alarm, _, _ = cusum_walk(
            pdf["value"], mu0, k, h, 0.0, 0.0
        )
        return pd.DataFrame(
            {
                "channel": pdf["channel"],
                "ts": pdf["ts"],
                "value": pdf["value"],
                "gpos": gpos,
                "gneg": gneg,
                "alarm": alarm,
            }
        )

    return (
        samples.filter(F.col("channel").isin(list(cfg)))
        .groupBy("channel")
        .applyInPandas(
            run,
            "channel string, ts long, value double, gpos double, "
            "gneg double, alarm boolean",
        )
    )


def holt_backtest(samples, alpha: float, beta: float):
    """Rolling-origin one-step backtest of the Holt forecaster — the
    accuracy scorecard (MAE / MAPE) that tells an operator whether
    the (α, β) pair tracks a channel before they trust
    holt_anomalies' envelope: every sample i ≥ 1 is predicted by the
    state built from samples < i (forecast_{i−1} = l_{i−1} +
    t_{i−1}), exactly the definition of an honest backtest — no
    leakage by construction.

    Determinism: each residual is bit-exact (the Holt recursive-CTE
    contract); |e| and |e|/|x| quantize per-row to BIGINT (1e6 /
    1e9), so the per-channel accumulations are exact order-free
    integer sums (the nano-nat class) and the final MAE/MAPE are
    single fixed divisions. Zero-valued actuals are excluded from
    MAPE (counted in n_total − n_nonzero).

    Output: (channel, n_steps, n_nonzero, sae_q, mae, mape).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    h = holt_filter(samples, alpha, beta)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    e = h.withColumn("_pf", F.lag("forecast").over(w)).filter(
        F.col("_pf").isNotNull()
    )
    e = e.withColumn(
        "_ae_q",
        F.expr("CAST(round(abs(value - _pf) * 1000000) AS BIGINT)"),
    ).withColumn(
        "_ape_q",
        F.expr(
            "CASE WHEN value <> 0 THEN CAST(round(abs(value - _pf) "
            "/ abs(value) * 1000000000) AS BIGINT) END"
        ),
    )
    g = e.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.count("_ape_q").cast("long").alias("n_nonzero"),
        F.sum("_ae_q").cast("long").alias("sae_q"),
        F.sum("_ape_q").cast("long").alias("_sape_q"),
    )
    return g.select(
        "channel",
        "n_steps",
        "n_nonzero",
        "sae_q",
        F.expr(
            "CAST(sae_q AS DOUBLE) / (1000000.0 * n_steps)"
        ).alias("mae"),
        F.expr(
            "CASE WHEN n_nonzero > 0 THEN CAST(_sape_q AS DOUBLE) "
            "/ (1000000000.0 * n_nonzero) END"
        ).alias("mape"),
    )
