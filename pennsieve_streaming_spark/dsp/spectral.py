"""Spectral band power via the Goertzel algorithm (Goertzel 1958 —
the classic single-bin DFT recurrence).

EEG review is done in frequency bands (delta/theta/alpha/beta); the
reference serves only time-domain samples and leaves banding to the
client. This operator computes per-window power at a set of target
frequencies engine-side:

    s_n = x_n + c*s_{n-1} - s_{n-2},   c = 2*cos(2*pi*f/fs)
    power = s_{N-1}^2 + s_{N-2}^2 - c*s_{N-1}*s_{N-2}

Execution: windows are fixed sample-count chunks per channel (row
ranking, same shape as the count downsample); each (channel, window)
group runs the recurrence once per frequency inside ``applyInPandas``
— vectorized ACROSS frequencies per sample step, sequential over
samples (the recurrence is inherently so, exactly like the IIR path).

Determinism: the recurrence is two multiplies + two adds per sample in
a fixed order, and ``c`` is baked as a python float literal — the
DuckDB oracle replays the identical ops in a recursive CTE
(bit-exact, same class as the Butterworth/EWMA oracles). At 100 TB
parallelism is |channels| x |windows| — embarrassing parallel, no
shuffle beyond the one window ranking.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def goertzel_coeff(freq_hz: float, rate_hz: float) -> float:
    """c = 2*cos(2*pi*f/fs), the literal both engines share."""
    return 2.0 * math.cos(2.0 * math.pi * freq_hz / rate_hz)


def band_power(
    samples: DataFrame,
    freqs_hz: tuple[float, ...],
    rate_hz: float,
    window_samples: int,
) -> DataFrame:
    """Per-(channel, window, frequency) Goertzel power.

    Windows are consecutive ``window_samples``-row chunks in (ts,
    value) order per channel; ragged tails are dropped (the count
    downsample's convention). Output: (channel, win, freq_hz, n,
    power).
    """
    coeffs = {float(f): goertzel_coeff(f, rate_hz) for f in freqs_hz}
    ws = int(window_samples)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.withColumn(
        "_rn", F.row_number().over(w) - 1
    ).withColumn("win", F.floor(F.col("_rn") / ws))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
        x = pdf["value"].to_numpy(dtype=np.float64)
        out = []
        ch = pdf["channel"].iloc[0]
        win = int(pdf["win"].iloc[0])
        if len(x) == ws:  # ragged tail dropped
            for f, c in coeffs.items():
                s1 = 0.0
                s2 = 0.0
                for i in range(len(x)):
                    s = x[i] + c * s1 - s2
                    s2 = s1
                    s1 = s
                power = s1 * s1 + s2 * s2 - c * s1 * s2
                out.append((ch, win, f, len(x), power))
        return pd.DataFrame(
            out, columns=["channel", "win", "freq_hz", "n", "power"]
        )

    return ranked.groupBy("channel", "win").applyInPandas(
        run,
        "channel string, win long, freq_hz double, n long, power double",
    )


def dft_tables(
    n_bins: int, window_samples: int
) -> tuple[list[float], list[float]]:
    """Flat (bin-major) DFT basis tables: cos/sin(2*pi*k*pos/N) for
    k = 1..n_bins, pos = 0..N-1 — generated once in Python so BOTH
    engines consume the identical float literals (engine cos()/sin()
    are libm-vs-JVM divergent at the last ulp; literals are not)."""
    ws = int(window_samples)
    cos_t, sin_t = [], []
    for k in range(1, int(n_bins) + 1):
        for p in range(ws):
            ang = 2.0 * math.pi * k * p / ws
            cos_t.append(math.cos(ang))
            sin_t.append(math.sin(ang))
    return cos_t, sin_t


def dft_sums(
    samples: DataFrame,
    n_bins: int,
    window_samples: int,
    quant: int = 10**6,
) -> DataFrame:
    """The shared quantized-DFT stage of :func:`power_spectrum` and
    :func:`msc_coherence`: per (channel, window, bin), the exact
    BIGINT sums of the quantized products x·cos / x·sin against the
    literal basis tables — every term ``round(value·basis·quant)`` is
    an integer, so the sums are associative and partition/order free.
    Output: (channel, win, bin, n, sc, ss); ragged windows keep their
    n for the caller to filter."""
    ws = int(window_samples)
    nb = int(n_bins)
    q = int(quant)
    cos_t, sin_t = dft_tables(nb, ws)
    cos_arr = F.array(*[F.lit(float(c)) for c in cos_t])
    sin_arr = F.array(*[F.lit(float(s)) for s in sin_t])

    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("win", F.floor(F.col("_rn") / ws))
        .withColumn("pos", F.col("_rn") % ws)
    )
    exploded = ranked.select(
        "channel",
        "win",
        "pos",
        "value",
        F.explode(F.expr(f"sequence(1, {nb})")).alias("bin"),
    ).select(
        "channel",
        "win",
        F.col("bin").cast("long").alias("bin"),
        F.round(
            F.col("value")
            * F.element_at(cos_arr, ((F.col("bin") - 1) * ws + F.col("pos") + 1).cast("int"))
            * q
        )
        .cast("long")
        .alias("ci"),
        F.round(
            F.col("value")
            * F.element_at(sin_arr, ((F.col("bin") - 1) * ws + F.col("pos") + 1).cast("int"))
            * q
        )
        .cast("long")
        .alias("si"),
    )
    return exploded.groupBy("channel", "win", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ci").cast("long").alias("sc"),
        F.sum("si").cast("long").alias("ss"),
    )


def power_spectrum(
    samples: DataFrame,
    n_bins: int,
    window_samples: int,
    quant: int = 10**6,
) -> DataFrame:
    """Per-(channel, window) DFT power spectrum at bins 1..n_bins —
    the full low-frequency spectrum, where :func:`band_power` probes
    chosen frequencies.

    Unlike the Goertzel path (a sequential recurrence that needs
    ``applyInPandas``), the direct form is two dot products per bin —
    expressible entirely in built-in column functions, so the whole
    operator stays inside WholeStageCodegen with NO Python worker.
    Determinism: each product x·basis is quantized to a BIGINT before
    summing (exact, associative ⇒ partition/order free); the only
    float math is the final per-group power expression, replayed
    verbatim by the oracle. Power = (Σx·cos/q)² + (Σx·sin/q)², i.e.
    |DFT_k|² of the quantized signal.

    Windows are consecutive ``window_samples``-row chunks per channel
    in (ts, value) order; ragged tails are dropped. Output: (channel,
    win, bin, n, power).

    Scale: one row-ranking window per channel, an ×n_bins narrow
    explode, then a map-side-partial groupBy to
    |channels|×|windows|×n_bins rows. At production sampling rates
    windows are independent — parallelism is unbounded by channel
    count, unlike the per-channel recurrence operators.
    """
    agg = dft_sums(samples, n_bins, window_samples, quant)
    ws = int(window_samples)
    q = int(quant)
    # |DFT|² as an EXACT integer in quant² units (19-digit decimals
    # keep the squares exact; the sum stays well under 38 digits), then
    # ONE correctly-rounded cast + ONE division for the float view —
    # round(x, 9) at 1e12 magnitudes is sub-ulp and NOT cross-engine
    # stable, so no round() appears anywhere here.
    energy = (
        "CAST(sc AS DECIMAL(19, 0)) * CAST(sc AS DECIMAL(19, 0)) "
        "+ CAST(ss AS DECIMAL(19, 0)) * CAST(ss AS DECIMAL(19, 0))"
    )
    # the float view divides the BIGINT sums FIRST (exact-int → double
    # is correctly rounded for |sum| < 2^53, guaranteed by the quant
    # contract), then squares and adds — every op individually
    # correctly rounded, so both engines land on the identical double.
    # (Deriving it from energy_q2 instead would hit DuckDB's
    # not-correctly-rounded HUGEINT→DOUBLE cast above 2^64.)
    power = (
        f"(CAST(sc AS DOUBLE) / {q}) * (CAST(sc AS DOUBLE) / {q}) "
        f"+ (CAST(ss AS DOUBLE) / {q}) * (CAST(ss AS DOUBLE) / {q})"
    )
    return agg.filter(F.col("n") == ws).select(
        "channel",
        "win",
        "bin",
        "n",
        F.expr(energy).cast("decimal(38,0)").alias("energy_q2"),
        F.expr(power).alias("power"),
    )


def welch_psd(
    samples: DataFrame,
    freqs_hz: tuple[float, ...],
    rate_hz: float,
    window_samples: int,
) -> DataFrame:
    """Welch power-spectral-density estimate (Welch 1967, rectangular
    window, non-overlapping segments): the average of the per-segment
    Goertzel periodograms of :func:`band_power` — variance of the raw
    periodogram drops by ~1/K over K segments, the standard spectral
    estimator for long recordings.

    Determinism: per-window powers are already bit-identical across
    engines (the recursive-CTE oracle class); each is rounded to
    BIGINT before the cross-window average, so the sum is exact and
    the mean is one float division — no float fold across windows.
    (Powers here are O(N²·x²); round-to-integer loses < 1e-15
    relative.)

    Output: (channel, freq_hz, n_windows, sum_power_q, avg_power).

    Scale: inherits band_power's |channels|×|windows| parallelism and
    adds one map-side-partial groupBy down to |channels|×|freqs| rows.
    """
    bp = band_power(samples, freqs_hz, rate_hz, window_samples)
    return (
        bp.select(
            "channel",
            "freq_hz",
            F.expr("CAST(round(power) AS BIGINT)").alias("pq"),
        )
        .groupBy("channel", "freq_hz")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum("pq").cast("long").alias("sum_power_q"),
        )
        .withColumn(
            "avg_power",
            F.expr(
                "CAST(sum_power_q AS DOUBLE) / CAST(n_windows AS DOUBLE)"
            ),
        )
    )


def audio_fingerprint(
    samples: DataFrame,
    freqs_hz: tuple[float, ...],
    rate_hz: float,
    window_samples: int,
) -> DataFrame:
    """Philips-style robust audio fingerprint (Haitsma & Kalker 2002,
    "A Highly Robust Audio Fingerprinting System"): per frame, one bit
    per adjacent band pair from the sign of the time-and-frequency
    energy difference —

        bit(w, b) = [ (E[w][b]   − E[w][b+1])
                    − (E[w−1][b] − E[w−1][b+1]) > 0 ]

    packed into a ``len(freqs)−1``-bit integer sub-fingerprint per
    frame. Near-identical audio (re-encode, level shift) flips few
    bits, so hamming-based near-dup search over the fingerprints rides
    the same banded machinery as SimHash/dHash.

    Determinism: band energies come from :func:`band_power`'s Goertzel
    recurrence — bit-exact cross-engine — and everything after is
    subtraction, comparison and integer packing, so the fingerprint is
    engine-identical with no quantization. Frames are ``band_power``'s
    fixed-count windows; each channel's first frame has no predecessor
    and is dropped.

    Output: (channel, win, n_bits, fp).

    Plan: the Goertzel pass parallelizes over |channels|×|windows|;
    the delta is a self-join on (channel, win) at band+1 (both sides
    the small per-window energy table), the frame delta one lag window
    per (channel, band), and the pack a groupBy to one row per frame.
    """
    bp = band_power(samples, freqs_hz, rate_hz, window_samples)
    idx_map = F.create_map(
        *[
            x
            for i, f in enumerate(freqs_hz)
            for x in (F.lit(float(f)), F.lit(i))
        ]
    )
    b = bp.select(
        "channel",
        "win",
        idx_map[F.col("freq_hz")].cast("long").alias("band"),
        "power",
    )
    hi = b.alias("hi")
    lo = b.alias("lo")
    d = hi.join(
        lo,
        (F.col("hi.channel") == F.col("lo.channel"))
        & (F.col("hi.win") == F.col("lo.win"))
        & (F.col("lo.band") == F.col("hi.band") + 1),
    ).select(
        F.col("hi.channel").alias("channel"),
        F.col("hi.win").alias("win"),
        F.col("hi.band").alias("band"),
        (F.col("hi.power") - F.col("lo.power")).alias("d"),
    )
    wlag = Window.partitionBy("channel", "band").orderBy("win")
    e = d.withColumn("dprev", F.lag("d").over(wlag)).filter(
        F.col("dprev").isNotNull()
    )
    bit = (F.col("d") - F.col("dprev")) > 0
    weight = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(band AS INT))")
    return e.groupBy("channel", "win").agg(
        F.count(F.lit(1)).cast("long").alias("n_bits"),
        F.sum(F.when(bit, weight).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias("fp"),
    )


def fingerprint_match_pairs(
    fingerprints: DataFrame, bucket_cap: int = 32
) -> DataFrame:
    """Haitsma-Kalker fingerprint MATCHING: near-dup audio pairs from
    the per-frame sub-fingerprints of :func:`audio_fingerprint` — the
    H&K lookup primitive (an exact sub-fingerprint hit at some frame)
    proposes candidates, and the aligned frame-by-frame hamming
    distance scores them (re-encodes / level shifts flip few bits, so
    true matches score near zero).

    Scale guards: a (win, fp) posting bucket larger than
    ``bucket_cap`` is dropped before the self-join — a sub-fingerprint
    shared by that many items at the same frame is non-discriminative
    (the hot-shingle df cap of doc_ngram_jaccard applied to audio),
    bounding the candidate join at |buckets|·cap². Only 8-byte hashes
    shuffle; audio bytes never move. The aligned verify joins each
    candidate pair's two fingerprint SEQUENCES via the broadcast pair
    list — no all-pairs frame join ever forms.

    Output: (channel_a, channel_b, n_frames, matched_frames,
    sum_hamming, mean_hamming) for pairs sharing >= 1 surviving
    posting; n_frames counts frames where BOTH sides have a
    sub-fingerprint.
    """
    from pennsieve_streaming_spark.util import pin

    # keyed feeds SIX subtrees (posting sizes, the capped join's two
    # self-join legs, and both aligned-verify legs): pin the narrow
    # (channel, win, fp) table so the upstream fingerprint pipeline —
    # a per-frame FFT pandas stage over the raw audio — executes
    # once, not once per plan reference (the pitch/tempo replay fix,
    # optimization r11; 24 raw scans -> 0 in the planned query).
    keyed = pin(fingerprints.select("channel", "win", "fp"))
    sizes = keyed.groupBy("win", "fp").agg(
        F.count(F.lit(1)).alias("_m")
    )
    ok = keyed.join(
        sizes.filter(F.col("_m") <= int(bucket_cap)), ["win", "fp"]
    ).select("channel", "win", "fp")
    a, b = ok.alias("a"), ok.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.win") == F.col("b.win"))
            & (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.channel") < F.col("b.channel")),
        )
        .select(
            F.col("a.channel").alias("channel_a"),
            F.col("b.channel").alias("channel_b"),
        )
        .distinct()
    )
    fa = keyed.select(
        F.col("channel").alias("channel_a"),
        "win",
        F.col("fp").alias("fp_a"),
    )
    fb = keyed.select(
        F.col("channel").alias("channel_b"),
        "win",
        F.col("fp").alias("fp_b"),
    )
    j = (
        F.broadcast(cand)
        .join(fa, "channel_a")
        .join(fb, ["channel_b", "win"])
    )
    return (
        j.groupBy("channel_a", "channel_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum(
                F.when(F.col("fp_a") == F.col("fp_b"), 1).otherwise(0)
            )
            .cast("long")
            .alias("matched_frames"),
            F.sum(F.expr("bit_count(fp_a ^ fp_b)"))
            .cast("long")
            .alias("sum_hamming"),
        )
        .withColumn(
            "mean_hamming",
            F.col("sum_hamming").cast("double") / F.col("n_frames"),
        )
    )


def msc_coherence(
    samples: DataFrame,
    channel_a: str,
    channel_b: str,
    n_bins: int,
    window_samples: int,
    quant: int = 10**6,
) -> DataFrame:
    """Welch-averaged magnitude-squared coherence between two
    time-aligned channels (Carter 1987) — THE spectral connectivity
    metric of EEG analysis:

        C_xy(f) = |avg_w S_xy(w,f)|² / (avg_w S_xx(w,f) · avg_w S_yy(w,f))

    with S_xy the per-window cross-spectrum X·conj(Y) from the
    quantized-DFT sums of :func:`dft_sums`. Coherence near 1 = the
    channels are linearly coupled at that frequency across windows;
    the window-averaging is what makes it a coherence ESTIMATE rather
    than trivially 1.

    Determinism (welch_psd's class): per-window cross terms
    re/im/pa/pb derive from exact-integer DFT sums via a fixed float
    expression, are rounded to BIGINT per window (sub-1e-15 relative
    at these magnitudes), and the cross-WINDOW reduction is an exact
    integer sum — the final coherence is one fixed expression over
    four exact integers. Windows where either channel is ragged are
    dropped (inner join on complete windows).

    Output: (bin, n_windows, sum_re_q, sum_im_q, sum_pa_q, sum_pb_q,
    coherence).

    Scale: rides dft_sums' |channels|×|windows|×bins parallelism; the
    pairing is an equi-join of two already-collapsed sum tables on
    (win, bin); final groupBy to |bins| rows.
    """
    ws = int(window_samples)
    q = int(quant)
    sums = dft_sums(samples, n_bins, window_samples, quant).filter(
        F.col("n") == ws
    )
    a = sums.filter(F.col("channel") == channel_a).select(
        "win",
        "bin",
        F.col("sc").alias("sc_a"),
        F.col("ss").alias("ss_a"),
    )
    b = sums.filter(F.col("channel") == channel_b).select(
        "win",
        "bin",
        F.col("sc").alias("sc_b"),
        F.col("ss").alias("ss_b"),
    )
    dq = f"CAST({{0}} AS DOUBLE) / {q}"
    sca, ssa = dq.format("sc_a"), dq.format("ss_a")
    scb, ssb = dq.format("sc_b"), dq.format("ss_b")
    j = a.join(b, ["win", "bin"]).select(
        "bin",
        F.expr(
            f"CAST(round(({sca}) * ({scb}) + ({ssa}) * ({ssb})) AS BIGINT)"
        ).alias("re_q"),
        F.expr(
            f"CAST(round(({ssa}) * ({scb}) - ({sca}) * ({ssb})) AS BIGINT)"
        ).alias("im_q"),
        F.expr(
            f"CAST(round(({sca}) * ({sca}) + ({ssa}) * ({ssa})) AS BIGINT)"
        ).alias("pa_q"),
        F.expr(
            f"CAST(round(({scb}) * ({scb}) + ({ssb}) * ({ssb})) AS BIGINT)"
        ).alias("pb_q"),
    )
    return (
        j.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum("re_q").cast("long").alias("sum_re_q"),
            F.sum("im_q").cast("long").alias("sum_im_q"),
            F.sum("pa_q").cast("long").alias("sum_pa_q"),
            F.sum("pb_q").cast("long").alias("sum_pb_q"),
        )
        .withColumn(
            # zero auto-power (a bin with no signal on either side) has
            # undefined coherence -> NULL, explicitly, in BOTH engines
            # (ANSI Spark errors on /0; DuckDB would emit inf/nan)
            "coherence",
            F.expr(
                "CASE WHEN sum_pa_q <= 0 OR sum_pb_q <= 0 "
                "THEN CAST(NULL AS DOUBLE) ELSE "
                "(CAST(sum_re_q AS DOUBLE) * CAST(sum_re_q AS DOUBLE) "
                "+ CAST(sum_im_q AS DOUBLE) * CAST(sum_im_q AS DOUBLE)) "
                "/ (CAST(sum_pa_q AS DOUBLE) * CAST(sum_pb_q AS DOUBLE)) "
                "END"
            ),
        )
    )


def spectral_entropy(
    samples: DataFrame,
    n_bins: int,
    window_samples: int,
    quant: int = 10**6,
) -> DataFrame:
    """Spectral entropy per (channel, window): Shannon entropy of the
    normalized DFT power distribution over bins 1..n_bins — the
    classic spectral-flatness feature (white noise → ln(n_bins), a
    pure tone → 0); used for EEG vigilance staging and audio segment
    classification.

    Determinism (unigram_lm's ordered-fold class on welch_psd's
    quantization): per-bin powers round to BIGINT (sub-1e-15 relative
    at these magnitudes); each bin's term (pq/total)·round(ln(pq/
    total), 9) is a fixed float expression over exact integers, and
    the cross-bin reduction is a SEQUENTIAL left fold over the
    pq-sorted list — the same order in both engines, so no
    aggregation-order divergence. (The nano-nat integer-sum trick is
    NOT usable here: pq·ln-weight reaches ~1e25, and casting such a
    128-bit integer to DOUBLE is not correctly rounded in DuckDB —
    the power_spectrum HUGEINT→DOUBLE hazard.) Zero-power bins
    contribute 0 (the p·ln p limit) and are dropped before the ln.

    Output: (channel, win, n_bins_nz, total_pq, entropy) — entropy in
    nats, n_bins_nz = bins with nonzero quantized power.

    Scale: rides power_spectrum's |channels|×|windows|×bins
    parallelism; one further map-side-partial groupBy down to
    |channels|×|windows| rows.
    """
    bp = power_spectrum(samples, n_bins, window_samples, quant)
    pq = bp.select(
        "channel",
        "win",
        F.expr("CAST(round(power) AS BIGINT)").alias("pq"),
    ).filter(F.col("pq") > 0)
    g = pq.groupBy("channel", "win").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins_nz"),
        F.sum("pq").cast("long").alias("total_pq"),
        F.array_sort(F.collect_list("pq")).alias("_ps"),
    )
    fold = F.expr(
        "aggregate(_ps, CAST(0 AS DOUBLE), (acc, p) -> acc + "
        "(CAST(p AS DOUBLE) / CAST(total_pq AS DOUBLE)) * "
        "round(ln(CAST(p AS DOUBLE) / CAST(total_pq AS DOUBLE)), 9))"
    )
    return g.withColumn("_h", fold).select(
        "channel",
        "win",
        "n_bins_nz",
        "total_pq",
        (-F.col("_h")).alias("entropy"),
    )


def fingerprint_offset_search(
    db_fp: DataFrame,
    query_fp: DataFrame,
    max_lag: int,
    bucket_cap: int = 1024,
) -> DataFrame:
    """Haitsma-Kalker SEARCH with unknown time offset: given a query
    clip's sub-fingerprint sequence, find each database channel's best
    alignment — the "identify this snippet" primitive (the offset
    dimension :func:`fingerprint_match_pairs` fixes at zero).

    Stage 1 (posting hits): query frames join database frames on exact
    sub-fingerprint equality — the H&K inverted-index lookup — and
    every hit votes for its implied lag ``db_win − query_win``
    (bounded by ``max_lag``). Database postings for one fp value are
    df-capped at ``bucket_cap`` (a sub-fingerprint appearing in that
    many frames is non-discriminative — silence/DC frames).

    Stage 2 (deterministic argmax): the top-voted lag per channel
    (ties → smallest lag) via a per-channel rank over the already
    collapsed (channel, lag) vote table.

    Stage 3 (aligned verify): frame-by-frame hamming at the winning
    lag over the broadcast winner list.

    Output: (channel, lag, n_hits, n_frames, matched_frames,
    sum_hamming, mean_hamming) — one row per database channel with at
    least one in-range posting hit.

    Scale: only 8-byte sub-fingerprints shuffle; votes collapse to
    |channels|×(2·max_lag+1) rows before the rank; the verify joins
    each channel's sequence once against the (broadcast) winner row.
    """
    from pennsieve_streaming_spark.util import pin

    # db feeds THREE subtrees (posting sizes, the capped hits join,
    # the aligned verify) and qf TWO (hits, the lag-shifted verify
    # probe): pin the narrow frame tables so the upstream fingerprint
    # pipeline (per-frame FFT pandas stage) runs once per side, not
    # once per plan reference (optimization r11; 30 raw scans -> 0 in
    # the planned query).
    db = pin(db_fp.select("channel", "win", "fp"))
    qf = pin(
        query_fp.select(
            F.col("win").alias("q_win"), F.col("fp").alias("q_fp")
        )
    )
    sizes = db.groupBy("fp").agg(F.count(F.lit(1)).alias("_m"))
    ok = db.join(
        sizes.filter(F.col("_m") <= int(bucket_cap)), "fp"
    ).select("channel", "win", "fp")
    hits = (
        ok.join(qf, ok["fp"] == qf["q_fp"])
        .select(
            "channel", (F.col("win") - F.col("q_win")).alias("lag")
        )
        .filter(F.abs(F.col("lag")) <= int(max_lag))
    )
    votes = hits.groupBy("channel", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    wr = Window.partitionBy("channel").orderBy(
        F.desc("n_hits"), F.asc("lag")
    )
    best = (
        votes.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .select("channel", "lag", "n_hits")
    )
    # Aligned verify as a hash equi-join (optimization r11, guide
    # §3.4): the previous shape joined the (db ⋈ best) rows against
    # the query frames on ``win == q_win + lag`` — lag lives on the
    # other side, so Spark planned a CartesianProduct with a post-
    # filter.  Attaching each channel's winning lag to the query
    # frames first (broadcast nested loop over the tiny winner list)
    # makes the verify an equi-join on (channel, win): same matched
    # pairs — db frame (c, w) still meets exactly the query frames
    # with q_win = w − lag(c) — but hash-joinable, so the corpus side
    # is never nested-loop-scanned.
    qb = qf.crossJoin(F.broadcast(best)).select(
        "channel",
        "lag",
        "n_hits",
        "q_fp",
        (F.col("q_win") + F.col("lag")).alias("win"),
    )
    aligned = db.join(qb, ["channel", "win"])
    return (
        aligned.groupBy("channel", "lag", "n_hits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum(F.when(F.col("fp") == F.col("q_fp"), 1).otherwise(0))
            .cast("long")
            .alias("matched_frames"),
            F.sum(F.expr("bit_count(fp ^ q_fp)"))
            .cast("long")
            .alias("sum_hamming"),
        )
        .withColumn(
            "mean_hamming",
            F.col("sum_hamming").cast("double") / F.col("n_frames"),
        )
    )


def phase_locking_value(
    samples: DataFrame,
    channel_a: str,
    channel_b: str,
    n_bins: int,
    window_samples: int,
    quant: int = 10**6,
    phasor_quant: int = 10**9,
) -> DataFrame:
    """Phase-locking value between two time-aligned channels (Lachaux
    et al. 1999) — the OTHER canonical EEG connectivity metric next to
    :func:`msc_coherence`:

        PLV(f) = | avg_w  e^{i·Δφ(w,f)} |

    where Δφ(w,f) is the phase of the per-window cross-spectrum
    S_xy(w,f) = X·conj(Y).  Coherence weights windows by amplitude;
    PLV normalizes every window to a UNIT phasor first, so it measures
    pure phase consistency — amplitude bursts can't fake coupling.

    Determinism (coherence's class, plus one normalization step):
    per-window re/im derive from the exact-integer DFT sums of
    :func:`dft_sums` via a fixed float expression and round to BIGINT
    (sub-1e-15 relative at these magnitudes); the unit phasor
    (re, im)/|S_xy| is one fixed expression over those two integers,
    quantized to ``phasor_quant`` (±1e9 envelope, exactly
    representable); the cross-window reduction is an exact BIGINT sum;
    the final PLV is one fixed expression over two exact integers.
    Windows with a zero quantized cross-spectrum (no common signal —
    the phase is undefined) are dropped identically in both engines.

    Output: (bin, n_windows, sum_ure_q, sum_uim_q, plv), plv in
    [0, 1].

    Scale: identical to msc_coherence — dft_sums'
    |channels|×|windows|×bins parallelism, one equi-join of two
    collapsed sum tables on (win, bin), final groupBy to |bins| rows.
    """
    ws = int(window_samples)
    q = int(quant)
    pq = int(phasor_quant)
    sums = dft_sums(samples, n_bins, window_samples, quant).filter(
        F.col("n") == ws
    )
    a = sums.filter(F.col("channel") == channel_a).select(
        "win", "bin", F.col("sc").alias("sc_a"), F.col("ss").alias("ss_a")
    )
    b = sums.filter(F.col("channel") == channel_b).select(
        "win", "bin", F.col("sc").alias("sc_b"), F.col("ss").alias("ss_b")
    )
    dq = f"CAST({{0}} AS DOUBLE) / {q}"
    sca, ssa = dq.format("sc_a"), dq.format("ss_a")
    scb, ssb = dq.format("sc_b"), dq.format("ss_b")
    j = a.join(b, ["win", "bin"]).select(
        "bin",
        F.expr(
            f"CAST(round(({sca}) * ({scb}) + ({ssa}) * ({ssb})) AS BIGINT)"
        ).alias("re_q"),
        F.expr(
            f"CAST(round(({ssa}) * ({scb}) - ({sca}) * ({ssb})) AS BIGINT)"
        ).alias("im_q"),
    ).filter(~((F.col("re_q") == 0) & (F.col("im_q") == 0)))
    mag = (
        "sqrt(CAST(re_q AS DOUBLE) * CAST(re_q AS DOUBLE) "
        "+ CAST(im_q AS DOUBLE) * CAST(im_q AS DOUBLE))"
    )
    u = j.select(
        "bin",
        F.expr(
            f"CAST(round(CAST(re_q AS DOUBLE) / ({mag}) * {pq}) AS BIGINT)"
        ).alias("ure_q"),
        F.expr(
            f"CAST(round(CAST(im_q AS DOUBLE) / ({mag}) * {pq}) AS BIGINT)"
        ).alias("uim_q"),
    )
    return (
        u.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum("ure_q").cast("long").alias("sum_ure_q"),
            F.sum("uim_q").cast("long").alias("sum_uim_q"),
        )
        .withColumn(
            "plv",
            F.expr(
                "sqrt(CAST(sum_ure_q AS DOUBLE) * CAST(sum_ure_q AS DOUBLE) "
                "+ CAST(sum_uim_q AS DOUBLE) * CAST(sum_uim_q AS DOUBLE)) "
                f"/ (CAST(n_windows AS DOUBLE) * {pq})"
            ),
        )
    )


def harmonic_distortion(
    samples: DataFrame,
    fundamental_bin: int,
    n_harmonics: int,
    window_samples: int,
    quant: int = 10**6,
) -> DataFrame:
    """Total harmonic distortion per (channel, window): power at the
    harmonics of a fundamental bin relative to the fundamental,

        THD = sqrt( Σ_{h=2..H} P(h·k) / P(k) )

    — the classic signal-purity / line-noise metric (a 50/60 Hz mains
    contamination check is THD at the mains bin; an amplifier
    saturation check is THD of the test tone).

    Determinism (spectral_entropy's quantization): per-bin powers from
    :func:`power_spectrum` round to BIGINT; the harmonic sum is an
    exact integer sum; THD is one fixed float expression, NULL when
    the fundamental power rounds to zero (undefined, explicitly, in
    both engines).

    Output: (channel, win, fund_pq, harm_pq, thd).

    Scale: rides power_spectrum's codegen-only shape + one
    partial-agg rollup to |channels|×|windows| rows.
    """
    k = int(fundamental_bin)
    H = int(n_harmonics)
    bins = [k * h for h in range(1, H + 1)]
    bp = power_spectrum(
        samples, max(bins), window_samples, quant
    ).filter(F.col("bin").isin(bins))
    g = (
        bp.select(
            "channel",
            "win",
            "bin",
            F.expr("CAST(round(power) AS BIGINT)").alias("pq"),
        )
        .groupBy("channel", "win")
        .agg(
            F.sum(F.when(F.col("bin") == k, F.col("pq")).otherwise(0))
            .cast("long")
            .alias("fund_pq"),
            F.sum(F.when(F.col("bin") != k, F.col("pq")).otherwise(0))
            .cast("long")
            .alias("harm_pq"),
        )
    )
    return g.withColumn(
        "thd",
        F.expr(
            "CASE WHEN fund_pq > 0 THEN "
            "round(sqrt(CAST(harm_pq AS DOUBLE) "
            "/ CAST(fund_pq AS DOUBLE)), 9) END"
        ),
    )


def band_bursts(
    samples: DataFrame,
    target_bin: int,
    window_samples: int,
    mult: int = 4,
    min_windows: int = 2,
    quant: int = 10**6,
) -> DataFrame:
    """Band-limited burst (spindle-style) detection: runs of
    consecutive windows whose power at ``target_bin`` exceeds
    ``mult`` × the channel's median window power at that bin, lasting
    at least ``min_windows`` windows — the classic sleep-spindle /
    oscillatory-event detector (power in a narrow band, sustained,
    well above the channel's own baseline).

    Determinism: integer end-to-end — per-window powers round to
    BIGINT (spectral_entropy's quantization), the baseline is the
    LOWER MEDIAN (an order statistic of integers, the pHash rule),
    and the threshold test is the exact integer comparison
    ``pq > mult·med`` (no float ratio anywhere).

    Output: one row per burst — (channel, start_win, end_win,
    n_windows, max_pq, med_pq).

    Scale: rides power_spectrum's codegen shape; the median rank and
    the islands pass are per-channel windows over |windows|-sized
    data (already collapsed), never raw samples.
    """
    tb = int(target_bin)
    m = int(mult)
    pq = (
        power_spectrum(samples, tb, window_samples, quant)
        .filter(F.col("bin") == tb)
        .select(
            "channel",
            "win",
            F.expr("CAST(round(power) AS BIGINT)").alias("pq"),
        )
    )
    wr = Window.partitionBy("channel").orderBy("pq", "win")
    ranked = pq.withColumn("rn", F.row_number().over(wr)).withColumn(
        "nw", F.count(F.lit(1)).over(Window.partitionBy("channel"))
    )
    med = (
        ranked.filter(F.col("rn") == F.expr("(nw + 1) div 2"))
        .groupBy("channel")
        .agg(F.max("pq").cast("long").alias("med_pq"))
    )
    hot = (
        pq.join(F.broadcast(med), "channel")
        .filter(F.col("pq") > m * F.col("med_pq"))
    )
    iw = Window.partitionBy("channel").orderBy("win")
    return (
        hot.withColumn("grp", F.col("win") - F.row_number().over(iw))
        .groupBy("channel", "grp")
        .agg(
            F.min("win").cast("long").alias("start_win"),
            F.max("win").cast("long").alias("end_win"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.max("pq").cast("long").alias("max_pq"),
            F.max("med_pq").cast("long").alias("med_pq"),
        )
        .filter(F.col("n_windows") >= int(min_windows))
        .drop("grp")
    )


def phase_amplitude_coupling(
    samples: DataFrame,
    slow_bin: int,
    fast_bin: int,
    window_samples: int,
    quant: int = 10**6,
) -> DataFrame:
    """Phase-amplitude coupling per channel: the Tort 2010 modulation
    index with the phase axis binned into OCTANTS —

        MI = (ln 8 − H(p)) / ln 8,
        p_o = Σ_{w: octant(w)=o} A_fast(w) / Σ_w A_fast(w)

    where each window contributes its slow-bin DFT phase (which
    octant the phasor points into) and its fast-bin power. MI near 0
    = the fast amplitude ignores the slow phase; MI near 1 = the
    fast rhythm fires only at one slow phase — the nested-oscillation
    signature (theta-gamma coupling and sleep-spindle/slow-wave
    nesting are the canonical EEG uses).

    The octant trick is what makes this exact: the conventional
    formulation bins atan2(im, re) — a libm call with no cross-engine
    rounding guarantee — while the octant index

        4·[im < 0] + 2·[re < 0] + [|im| > |re|]

    is pure integer comparisons on the exact BIGINT DFT sums. Masses
    are exact integer sums of quantized fast powers; H folds the ≤8
    octant terms in fixed octant order (the spectral_entropy
    sequential-fold class, 9-dp ln terms); MI is one fixed expression.
    Windows whose fast power rounds to zero carry no mass (and drop
    from n_windows_used identically in both engines).

    Output: (channel, n_windows_used, n_octants_nz, total_aq, mi).

    Scale: rides dft_sums' parallelism; one conditional-agg pivot per
    (channel, window), a groupBy to |channels|×8 rows, a |channels|-row
    finish.
    """
    ws = int(window_samples)
    q = int(quant)
    sb, fb = int(slow_bin), int(fast_bin)
    sums = dft_sums(samples, max(sb, fb), window_samples, quant).filter(
        F.col("n") == ws
    )
    pv = (
        sums.filter(F.col("bin").isin([sb, fb]))
        .groupBy("channel", "win")
        .agg(
            F.max(F.when(F.col("bin") == sb, F.col("sc")))
            .cast("long")
            .alias("re"),
            F.max(F.when(F.col("bin") == sb, F.col("ss")))
            .cast("long")
            .alias("im"),
            F.max(F.when(F.col("bin") == fb, F.col("sc")))
            .cast("long")
            .alias("fc"),
            F.max(F.when(F.col("bin") == fb, F.col("ss")))
            .cast("long")
            .alias("fs"),
        )
    )
    power = (
        f"(CAST(fc AS DOUBLE) / {q}) * (CAST(fc AS DOUBLE) / {q}) "
        f"+ (CAST(fs AS DOUBLE) / {q}) * (CAST(fs AS DOUBLE) / {q})"
    )
    octs = pv.select(
        "channel",
        F.expr(
            "CASE WHEN im < 0 THEN 4 ELSE 0 END "
            "+ CASE WHEN re < 0 THEN 2 ELSE 0 END "
            "+ CASE WHEN abs(im) > abs(re) THEN 1 ELSE 0 END"
        ).cast("long").alias("octant"),
        F.expr(f"CAST(round({power}) AS BIGINT)").alias("aq"),
    ).filter(F.col("aq") > 0)
    om = octs.groupBy("channel", "octant").agg(
        F.count(F.lit(1)).cast("long").alias("nw"),
        F.sum("aq").cast("long").alias("mq"),
    )
    g = om.groupBy("channel").agg(
        F.sum("nw").cast("long").alias("n_windows_used"),
        F.count(F.lit(1)).cast("long").alias("n_octants_nz"),
        F.sum("mq").cast("long").alias("total_aq"),
        F.array_sort(F.collect_list(F.struct("octant", "mq"))).alias("_om"),
    )
    fold = F.expr(
        "aggregate(_om, CAST(0 AS DOUBLE), (acc, s) -> acc + "
        "(CAST(s.mq AS DOUBLE) / CAST(total_aq AS DOUBLE)) * "
        "round(ln(CAST(s.mq AS DOUBLE) / CAST(total_aq AS DOUBLE)), 9))"
    )
    ln8 = "2.0794415416798357"  # ln(8), shared literal
    return (
        g.withColumn("_h", -fold)
        .select(
            "channel",
            "n_windows_used",
            "n_octants_nz",
            "total_aq",
            F.expr(f"round(({ln8} - _h) / {ln8}, 9)").alias("mi"),
        )
    )


def phase_tables(k: int = 256, quant: int = 10**6) -> tuple[list[int], list[int]]:
    """Quantized phase-binned trig tables for the UNEVEN-timestamp
    periodogram: ``round(cos/sin(2*pi*m/k) * quant)`` for m = 0..k-1,
    generated once in Python so both engines consume the identical
    INTEGER literals — after this every product and sum is exact
    BIGINT arithmetic."""
    cq = [int(round(math.cos(2.0 * math.pi * m / k) * quant)) for m in range(k)]
    sq = [int(round(math.sin(2.0 * math.pi * m / k) * quant)) for m in range(k)]
    return cq, sq


def periodogram_power_expr(quant: int) -> str:
    """The fixed float finish of :func:`uneven_periodogram` over the
    exact BIGINT sums (sc, ss, n) — shared verbatim with the oracle."""
    denom = f"({int(quant)}.0 * 1000000.0 * n)"
    return (
        f"(CAST(sc AS DOUBLE) / {denom}) * (CAST(sc AS DOUBLE) / {denom})"
        f" + (CAST(ss AS DOUBLE) / {denom}) * (CAST(ss AS DOUBLE) / {denom})"
    )


def uneven_periodogram(
    samples: DataFrame,
    periods_us: tuple = (21_600_000_000, 43_200_000_000,
                         86_400_000_000, 604_800_000_000),
    k: int = 256,
    quant: int = 100,
) -> DataFrame:
    """Schuster periodogram at candidate periods over RAW, UNEVENLY
    SPACED timestamps — the gap-tolerant periodicity screen the
    index-based :func:`dft_sums` family cannot express (it assumes a
    dense per-window sample grid; real recordings have dropouts and
    irregular rates — Lomb 1976 / Scargle 1982 is the classical fix,
    and this is its Schuster |Σ x·e^{−iωt}|²/n² form):

        power(P) = (Σ xc·cos(2π·(ts mod P)/P) / (q_trig·q·n))²
                 + (the sine sum likewise)²

    Determinism: values quantize to BIGINT (xq), centered by the
    per-channel MEDIAN order statistic (exact integer detrending —
    without it the DC mass of a positive-valued series swamps every
    line); the phase maps to one of ``k`` bins by integer arithmetic
    ((ts mod P)·k div P); the trig factors are the shared INTEGER
    literal tables (phase_tables), so sc/ss are exact order-free
    BIGINT sums and the power is one fixed float expression.
    Envelope: |xc·cq| ≤ 2·10⁷·quant·10⁶ ⇒ sums are BIGINT-safe to
    ~4×10⁵ samples/channel at |value| ≤ 2·10⁵, quant=100 — wider
    corpora need a smaller quant (the welch_psd rule).

    Output: (channel, period_us, n, sc, ss, power) — one row per
    channel × candidate period.

    Plan: the median side-table (two per-channel window passes, the
    line_length shape) + ONE partial-agg groupBy per channel
    computing all 2·|periods| sums at once (no explode — the scan is
    read once), then a constant-width stack to rows. |channels| rows
    ever shuffle.
    """
    kk = int(k)
    q = int(quant)
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
    d = ranked.join(F.broadcast(med), "channel").withColumn(
        "xc", F.col("xq") - F.col("med_q")
    )
    return finish_periodogram(
        periodogram_sums(d, periods_us, kk), periods_us, q
    )


def periodogram_sums(
    centered: DataFrame, periods_us: tuple, k: int = 256
) -> DataFrame:
    """The ASSOCIATIVE stage of the periodogram — one groupBy per
    channel over (ts, xc) rows producing all 2·|periods| exact BIGINT
    trig sums at once. Associativity is what makes the streaming
    variant exact: any complete-mode drain of this aggregation equals
    the batch aggregation over the same rows (the trend_moments
    contract)."""
    kk = int(k)
    cq, sq = phase_tables(kk)
    cos_arr = "array(" + ", ".join(str(v) + "L" for v in cq) + ")"
    sin_arr = "array(" + ", ".join(str(v) + "L" for v in sq) + ")"
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for p in periods_us:
        idx = f"CAST((ts % {int(p)}) * {kk} div {int(p)} AS INT)"
        aggs.append(
            F.sum(F.expr(f"xc * element_at({cos_arr}, {idx} + 1)"))
            .cast("long")
            .alias(f"sc_{int(p)}")
        )
        aggs.append(
            F.sum(F.expr(f"xc * element_at({sin_arr}, {idx} + 1)"))
            .cast("long")
            .alias(f"ss_{int(p)}")
        )
    return centered.groupBy("channel").agg(*aggs)


def finish_periodogram(
    sums: DataFrame, periods_us: tuple, quant: int = 100
) -> DataFrame:
    """Stack the wide sums to rows and apply the shared power finish
    — identical expressions over identical exact integers, so batch
    and drained-streaming outputs are bit-identical."""
    q = int(quant)
    stack = ", ".join(
        f"{int(p)}L, sc_{int(p)}, ss_{int(p)}" for p in periods_us
    )
    rows = sums.select(
        "channel",
        "n",
        F.expr(
            f"stack({len(periods_us)}, {stack}) AS (period_us, sc, ss)"
        ),
    )
    return rows.select(
        "channel",
        "period_us",
        "n",
        "sc",
        "ss",
        F.expr(periodogram_power_expr(q)).alias("power"),
    )


def spectral_edge(
    samples: DataFrame,
    n_bins: int,
    window_samples: int,
    quant: int = 10**6,
    edge_num: int = 19,
    edge_den: int = 20,
) -> DataFrame:
    """Spectral edge frequency per (channel, window) — SEF95 (the
    default edge_num/edge_den = 19/20), THE single-number anesthesia-
    depth EEG summary: the lowest bin below which ≥ 95% of the
    window's spectral energy (over bins 1..n_bins) lies. Rides the
    same exact quantized DFT sums as power_spectrum.

    Determinism — all-integer: per-bin energies are EXACT
    DECIMAL(38,0)/HUGEINT squares of the BIGINT dot sums (the
    power_spectrum energy form); the cumulative and total sums are
    exact; the 95% test is the integer cross-multiplication
    ``cum·edge_den ≥ tot·edge_num`` (magnitude ≤ ~10²⁹, inside both
    engines' 38-digit envelopes); the edge is MIN(bin) over the
    passing set — no float exists anywhere in the operator.

    Output: (channel, win, n_bins, sef_bin); flat windows (zero total
    energy) emit no row (no edge exists).

    Plan: dft_sums' one ranking pass + partial-agg groupBy, then two
    frame aggregates over the ≤ n_bins rows per window and a min
    rollup — nothing beyond |channels|×|windows|×n_bins rows.
    """
    ws = int(window_samples)
    nb = int(n_bins)
    agg = dft_sums(samples, nb, ws, int(quant)).filter(
        F.col("n") == ws
    )
    eq = (
        "CAST(sc AS DECIMAL(19, 0)) * CAST(sc AS DECIMAL(19, 0)) "
        "+ CAST(ss AS DECIMAL(19, 0)) * CAST(ss AS DECIMAL(19, 0))"
    )
    w_cum = (
        Window.partitionBy("channel", "win")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("channel", "win")
    x = (
        agg.withColumn("_eq", F.expr(eq))
        .withColumn("_cum", F.sum("_eq").over(w_cum))
        .withColumn("_tot", F.sum("_eq").over(w_all))
    )
    passed = x.filter(
        (F.col("_tot") > 0)
        & (F.col("_cum") * edge_den >= F.col("_tot") * edge_num)
    )
    return passed.groupBy("channel", "win").agg(
        F.lit(nb).cast("long").alias("n_bins"),
        F.min("bin").cast("long").alias("sef_bin"),
    )


def energy_vad(
    samples: DataFrame,
    frame: int = 64,
    quant: int = 100,
    factor: int = 2,
    hangover: int = 1,
) -> DataFrame:
    """Energy-based voice/burst activity detection per channel — the
    classic first-stage VAD (ITU G.729B's energy rule, stripped of
    codec specifics): frame the signal, mark frames whose energy
    exceeds ``factor``× the channel's MEDIAN frame energy (the robust
    noise-floor estimate), and merge active frames closer than
    ``hangover`` frames into segments. The segment table is what
    downstream ASR/diarization pipelines consume; the audio analogue
    of ts_band_bursts' envelope bursts.

    Determinism: frame energies are exact BIGINT Σxq²; the noise
    floor is the k-th-smallest energy order statistic (k = ⌊(n+1)/2⌋,
    the line_length median rule); activity is the exact integer
    comparison energy > factor·median; segmentation is integer
    frame-gap logic (the user_sessions pattern). No floats anywhere
    until the final fixed division.

    Output: (channel, start_frame, end_frame, n_frames, energy_q,
    mean_energy) — one row per active segment; ragged tail frames are
    dropped (the hjorth rule).

    Plan / 100 TB: one per-channel window pass (position rank), one
    partial-agg groupBy to |frames| rows; everything after (median,
    merge) runs on the frame table, |samples|/frame rows. Envelope:
    Σxq² per frame binds at |value|·quant ≈ 3e8 for 64-sample frames.
    """
    from pennsieve_streaming_spark.util import pin

    fr = int(frame)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    framed = (
        samples.select(
            "channel",
            "ts",
            "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("frame", (F.col("_rn") / fr).cast("long"))
    )
    # Ragged-tail drop folded into the frame aggregation (optimization
    # r11): _rn is contiguous 0..n-1 per channel, so a frame has
    # exactly ``fr`` rows iff frame < floor(n/fr) — the old
    # per-channel count branch + broadcast join replayed the raw
    # window pass a second time for the same predicate (the
    # snr_estimate shape). The frame table is then PINNED: the median
    # rank pass, its count, and the activity split all reference it.
    en = pin(
        framed.groupBy("channel", "frame")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.expr("xq * xq")).cast("long").alias("energy_q"),
        )
        .filter(F.col("_n") == fr)
        .select("channel", "frame", "energy_q")
    )
    # channel median frame energy: k-th smallest order statistic
    aw = Window.partitionBy("channel").orderBy("energy_q", "frame")
    cnt = en.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    med = (
        en.withColumn("_ar", F.row_number().over(aw).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(F.expr("_ar = (_n + 1) div 2"))
        .select("channel", F.col("energy_q").alias("med_q"))
    )
    active = (
        en.join(F.broadcast(med), "channel")
        .filter(F.expr(f"energy_q > {int(factor)} * med_q"))
        .select("channel", "frame", "energy_q")
    )
    # merge active frames with gaps <= hangover (sessionization over
    # the small frame table)
    sw = Window.partitionBy("channel").orderBy("frame")
    seg = (
        active.withColumn("_prev", F.lag("frame").over(sw))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (F.col("frame") - F.col("_prev") > int(hangover) + 1),
                1,
            ).otherwise(0),
        )
        .withColumn("_seg", F.sum("_new").over(
            sw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return seg.groupBy("channel", "_seg").agg(
        F.min("frame").cast("long").alias("start_frame"),
        F.max("frame").cast("long").alias("end_frame"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("energy_q").cast("long").alias("energy_q"),
    ).select(
        "channel",
        "start_frame",
        "end_frame",
        "n_frames",
        "energy_q",
        F.expr(
            f"CAST(energy_q AS DOUBLE) / (n_frames * {fr} * "
            f"CAST({q} AS DOUBLE) * {q})"
        ).alias("mean_energy"),
    )


def _loglog_slope_coeffs(n: int) -> list[float]:
    """OLS slope weights over x_b = ln(b), b = 1..n: slope =
    Σ c_b · y_b with c_b = (ln b − x̄)/Sxx — shared Python literals so
    both engines fold identical doubles (the higuchi_fd convention)."""
    xs = [math.log(float(b)) for b in range(1, n + 1)]
    xbar = sum(xs) / len(xs)
    sxx = sum((x - xbar) ** 2 for x in xs)
    return [(x - xbar) / sxx for x in xs]


def spectral_slope(
    samples: DataFrame,
    n_bins: int = 8,
    window_samples: int = 64,
    quant: int = 10**6,
) -> DataFrame:
    """Spectral slope / 1-over-f exponent per channel: the OLS slope
    of ln(mean power) against ln(frequency bin) over the Welch-style
    cross-window average of the codegen DFT periodogram — THE scaling
    biomarker of aperiodic neural activity (pink noise α ≈ 1, white
    α ≈ 0; "FOOOF" pipelines fit exactly this line before peaks).
    Complements ts_hurst_rs (time-domain scaling) and
    ts_spectral_entropy (distribution shape) with the spectrum's
    power-law exponent.

    Determinism: per-window bin powers are bit-identical doubles
    (power_spectrum's contract), rounded to BIGINT before the
    cross-window sum (the welch_psd rule — exact, order-free); the
    per-bin mean is one division; the fit folds shared Python-literal
    weights over the pivoted lns in bin order; a one-quantum floor
    (+1 before the mean) keeps ln finite on empty bins (pure tones
    zero every other bin; ln(0) errors on DuckDB).

    Output: (channel, n_windows, slope, alpha) with alpha = −slope
    (positive for 1/f-like spectra).

    Plan / 100 TB: inherits power_spectrum's unbounded
    |channels|×|windows| parallelism; one partial-agg groupBy to
    |channels|×n_bins rows, then a |channels|-row pivot.
    """
    nb = int(n_bins)
    ps = power_spectrum(samples, nb, window_samples, quant)
    g = (
        ps.select(
            "channel",
            "bin",
            F.expr("CAST(round(power) AS BIGINT)").alias("pq"),
        )
        .groupBy("channel", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nw"),
            F.sum("pq").cast("long").alias("sp"),
        )
    )
    piv = g.groupBy("channel").agg(
        F.max("nw").cast("long").alias("n_windows"),
        *[
            F.max(F.when(F.col("bin") == b, F.col("sp"))).alias(f"_s{b}")
            for b in range(1, nb + 1)
        ],
    )
    cs = _loglog_slope_coeffs(nb)
    # one-quantum floor (+1 before the mean): empty bins are routine
    # (a pure tone zeroes every other bin) and ln(0) errors on DuckDB;
    # the floor biases ln by < 1 quantum — far below any real power
    mean_b = {
        b: f"(CAST(_s{b} + 1 AS DOUBLE) / n_windows)"
        for b in range(1, nb + 1)
    }
    slope = " + ".join(
        f"{cs[b - 1]!r} * ln({mean_b[b]})" for b in range(1, nb + 1)
    )
    # Cross-engine determinism: ln() itself is not correctly rounded,
    # so the folded sum differs in the last ULP across engines even
    # with identical literal weights; quantize the finish to 9 dp (the
    # codebase's nano-nat rule) in both engines.
    return piv.select(
        "channel",
        "n_windows",
        F.expr(f"round({slope}, 9)").alias("slope"),
        F.expr(f"round(-({slope}), 9)").alias("alpha"),
    )


def spectral_flux_onsets(
    samples: DataFrame,
    freqs_hz: tuple[float, ...],
    rate_hz: float,
    window_samples: int,
    factor: int = 2,
) -> DataFrame:
    """Onset detection via positive spectral flux (Bello et al. 2005's
    standard reduction): per frame, the band-ordered sum of POSITIVE
    band-energy increases against the previous frame — energy
    arriving in any band marks an attack; energy leaving doesn't. A
    frame is an onset when its flux exceeds ``factor``× the channel's
    MEDIAN flux (the energy_vad noise-floor rule). The onset table is
    what beat-tracking / segmentation pipelines consume next to
    mm_audio_vad's activity spans.

    Determinism: band energies come from :func:`band_power`'s Goertzel
    recurrence (recursive-CTE bit-exact); the flux folds the
    GREATEST(0, ΔE) terms in FIXED band order (a pivoted expression,
    no float aggregation); flux is rounded to BIGINT (the welch_psd
    quantization rule) so the median order statistic and the
    factor×median rule are exact integer comparisons.

    Output: (channel, win, flux_q, is_onset) for every frame with a
    predecessor.

    Plan / 100 TB: band_power's |channels|×|windows| parallelism, one
    pivot groupBy to |frames| rows, one per-channel lag + median pass
    over the frame table.
    """
    bp = band_power(samples, freqs_hz, rate_hz, window_samples)
    idx_map = F.create_map(
        *[
            x
            for i, f in enumerate(freqs_hz)
            for x in (F.lit(float(f)), F.lit(i))
        ]
    )
    nb = len(freqs_hz)
    b = bp.select(
        "channel",
        "win",
        idx_map[F.col("freq_hz")].cast("int").alias("band"),
        "power",
    )
    piv = b.groupBy("channel", "win").agg(
        *[
            F.max(F.when(F.col("band") == i, F.col("power"))).alias(
                f"_p{i}"
            )
            for i in range(nb)
        ]
    )
    w = Window.partitionBy("channel").orderBy("win")
    lagged = piv.select(
        "channel",
        "win",
        *[F.col(f"_p{i}") for i in range(nb)],
        *[F.lag(f"_p{i}").over(w).alias(f"_q{i}") for i in range(nb)],
    ).filter(F.col("_q0").isNotNull())
    flux = " + ".join(
        f"GREATEST(0e0, _p{i} - _q{i})" for i in range(nb)
    )
    fx = lagged.select(
        "channel",
        "win",
        F.expr(f"CAST(round({flux}) AS BIGINT)").alias("flux_q"),
    )
    aw = Window.partitionBy("channel").orderBy("flux_q", "win")
    cnt = fx.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    med = (
        fx.withColumn("_ar", F.row_number().over(aw).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(F.expr("_ar = (_n + 1) div 2"))
        .select("channel", F.col("flux_q").alias("med_q"))
    )
    return fx.join(F.broadcast(med), "channel").select(
        "channel",
        "win",
        "flux_q",
        F.expr(f"flux_q > {int(factor)} * med_q").alias("is_onset"),
    )


def zero_crossing_rate(
    samples: DataFrame, frame: int = 64, quant: int = 100
) -> DataFrame:
    """Per-frame zero-crossing rate on the frame-demeaned signal —
    the cheapest voiced/unvoiced discriminator in the audio front-end
    (Rabiner & Schafer's classic pairing with energy: voiced speech =
    high energy + low ZCR, fricatives/noise = high ZCR). The frame
    companion of energy_vad: together they form the two-feature VAD
    every pipeline starts from.

    Determinism: the demeaned sign is taken on n·x_t − Σx (exact
    BIGINT — the KPSS n-scaling trick, no mean division); a crossing
    is the exact integer test d_t · d_{t−1} < 0; zcr is ONE fixed
    division of exact integers.

    Output: (channel, win, n, n_crossings, zcr); ragged tail frames
    drop (the hjorth rule).

    Plan / 100 TB: one per-channel ranking window, one frame rollup,
    a join back, one lag window within (channel, win) — all
    partial-agg friendly, |samples|/frame output rows.
    """
    from pyspark.sql import Window

    fr = int(frame)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.select(
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
        F.expr(f"_rn div {fr}").alias("win"),
        F.expr(f"_rn % {fr}").alias("pos"),
        "xq",
    )
    per = ranked.groupBy("channel", "win").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("xq").cast("long").alias("_s"),
    )
    d = ranked.join(per, ["channel", "win"]).filter(
        F.col("_n") == fr
    ).select(
        "channel",
        "win",
        "pos",
        F.expr(f"{fr} * xq - _s").alias("_d"),
    )
    lw = Window.partitionBy("channel", "win").orderBy("pos")
    crossings = (
        d.withColumn("_dp", F.lag("_d").over(lw))
        .filter(F.col("_dp").isNotNull())
        .groupBy("channel", "win")
        .agg(
            F.sum(
                F.when(F.expr("_d * _dp < 0"), 1).otherwise(0)
            ).cast("long").alias("n_crossings")
        )
    )
    return crossings.select(
        "channel",
        F.col("win").cast("long").alias("win"),
        F.lit(fr).cast("long").alias("n"),
        "n_crossings",
        F.expr(
            f"round(CAST(n_crossings AS DOUBLE) / {fr - 1}, 9)"
        ).alias("zcr"),
    )


def crest_factor(
    samples: DataFrame, frame: int = 64, quant: int = 100
) -> DataFrame:
    """Per-frame crest factor (peak / RMS) — the classic impulsiveness
    metric of audio limiting and vibration/bearing-fault monitoring
    (a pure sine is √2 ≈ 1.414; clipping pushes it toward 1; impulsive
    faults push it up). Completes the frame-feature trio with
    energy_vad (level) and zero_crossing_rate (spectral tilt).

    Determinism: peak = max |xq| and Σxq² are exact integers per
    frame; the crest is ONE fixed sqrt division rounded to 9 dp
    (silent frames report the 0.0 sentinel). Ragged tails drop.

    Output: (channel, win, n, peak_q, crest).

    Plan / 100 TB: one per-channel ranking window + one frame rollup.
    """
    fr = int(frame)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.select(
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
        F.expr(f"_rn div {fr}").alias("win"),
        "xq",
    )
    g = ranked.groupBy("channel", "win").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max(F.abs(F.col("xq"))).cast("long").alias("peak_q"),
        F.sum(F.expr("xq * xq")).cast("long").alias("_ss"),
    )
    return g.filter(F.col("_n") == fr).select(
        "channel",
        F.col("win").cast("long").alias("win"),
        F.lit(fr).cast("long").alias("n"),
        "peak_q",
        F.expr(
            f"CASE WHEN _ss > 0 THEN round(CAST(peak_q AS DOUBLE) "
            f"/ sqrt(CAST(_ss AS DOUBLE) / {fr}), 9) ELSE 0e0 END"
        ).alias("crest"),
    )


def clipping_stats(
    samples: DataFrame, clip_threshold: float, quant: int = 100
) -> DataFrame:
    """Per-channel clipping diagnostics: the fraction of samples at or
    beyond ``clip_threshold`` and the LONGEST consecutive clipped run
    — the two numbers an audio-QA pass reports (isolated peaks are
    fine; long flat-topped runs are audible distortion). The audio
    sibling of ts_flatline_runs' stuck-sensor runs.

    Determinism: the clip test compares quantized integers against
    the quantized literal threshold; runs are integer index spans
    (the user_sessions gap rule); the fraction is one division
    rounded to 9 dp.

    Output: (channel, n, n_clipped, clip_frac, max_run).

    Plan / 100 TB: one per-channel ranking window over clipped rows
    only (the run grouping key is rn − row_number, the standard
    islands trick), one rollup.
    """
    q = int(quant)
    tq = int(round(float(clip_threshold) * q))
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(
            f"CAST(abs(CAST(round(value * {q}) AS BIGINT)) >= {tq} "
            f"AS INT)"
        ).alias("_clip"),
    ).withColumn("_rn", F.row_number().over(w).cast("long"))
    tot = ranked.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_clip").cast("long").alias("n_clipped"),
    )
    cw = Window.partitionBy("channel").orderBy("_rn")
    runs = (
        ranked.filter(F.col("_clip") == 1)
        .withColumn(
            "_grp", F.col("_rn") - F.row_number().over(cw)
        )
        .groupBy("channel", "_grp")
        .agg(F.count(F.lit(1)).cast("long").alias("_run"))
        .groupBy("channel")
        .agg(F.max("_run").cast("long").alias("max_run"))
    )
    return (
        tot.join(runs, "channel", "left")
        .select(
            "channel",
            "n",
            "n_clipped",
            F.expr(
                "round(CAST(n_clipped AS DOUBLE) / n, 9)"
            ).alias("clip_frac"),
            F.coalesce("max_run", F.lit(0)).cast("long").alias(
                "max_run"
            ),
        )
    )


def dynamic_range(
    samples: DataFrame, frame: int = 64, quant: int = 100
) -> DataFrame:
    """Per-channel macro-dynamics: the ratio between the 95th- and
    10th-percentile frame energies, in dB — the loudness-range (LRA)
    style number mastering/QA reads beside the micro-scale crest
    factor (a heavily compressed feed has dr_db → 0; natural audio
    spans 10-30 dB).

    Determinism: frame energies Σxq² are exact BIGINTs (full frames
    only — ragged tails drop, the crest_factor rule); the two
    percentile energies are ORDER STATISTICS of exact integers under
    the total order (energy, win) at ranks ⌈0.10·F⌉ / ⌈0.95·F⌉; the
    dB finish is one log10 rounded to 9 dp (silent p10 frames report
    the 0.0 sentinel).

    Output: (channel, n_frames, e_p10, e_p95, dr_db).

    Plan / 100 TB: one per-channel ranking window to frames, one
    frame rollup, one rank window over the |frames| table (already
    reduced ×frame), one |channels|-row pivot.
    """
    fr = int(frame)
    q = int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = samples.select(
        "channel",
        "ts",
        "value",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
    ).select(
        "channel", (F.row_number().over(w) - 1).alias("_rn"), "xq"
    )
    frames = (
        ranked.select(
            "channel", F.expr(f"_rn div {fr}").alias("win"), "xq"
        )
        .groupBy("channel", "win")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.expr("xq * xq")).cast("long").alias("e"),
        )
        .filter(F.col("_n") == fr)
        .select("channel", "win", "e")
    )
    cnt = frames.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )
    ew = Window.partitionBy("channel").orderBy("e", "win")
    picked = (
        frames.withColumn("_er", F.row_number().over(ew).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(
            F.expr(
                "_er = (10 * n_frames + 99) div 100 "
                "OR _er = (95 * n_frames + 99) div 100"
            )
        )
    )
    g = picked.groupBy("channel", "n_frames").agg(
        F.max(
            F.expr(
                "CASE WHEN _er = (10 * n_frames + 99) div 100 "
                "THEN e END"
            )
        )
        .cast("long")
        .alias("e_p10"),
        F.max(
            F.expr(
                "CASE WHEN _er = (95 * n_frames + 99) div 100 "
                "THEN e END"
            )
        )
        .cast("long")
        .alias("e_p95"),
    )
    return g.select(
        "channel",
        "n_frames",
        "e_p10",
        "e_p95",
        F.expr(
            "CASE WHEN e_p10 > 0 THEN "
            "round(10e0 * log10(CAST(e_p95 AS DOUBLE) "
            "/ CAST(e_p10 AS DOUBLE)), 9) ELSE 0e0 END"
        ).alias("dr_db"),
    )


def spectral_shape_exprs(n_bins: int) -> tuple[str, str]:
    """(centroid, bandwidth) fixed expression strings over pivoted
    per-bin power columns p1..pN — shared verbatim with the oracle.
    Sums are explicit left-to-right chains (no engine fold order),
    the centroid is rounded to 9 dp BEFORE feeding the bandwidth so
    both engines square identical doubles."""
    tot = " + ".join(f"p{b}" for b in range(1, n_bins + 1))
    num = " + ".join(f"{b}e0 * p{b}" for b in range(1, n_bins + 1))
    cent = (
        f"CASE WHEN ({tot}) > 0e0 THEN "
        f"round(({num}) / ({tot}), 9) ELSE 0e0 END"
    )
    var = " + ".join(
        f"p{b} * ({b}e0 - ({cent})) * ({b}e0 - ({cent}))"
        for b in range(1, n_bins + 1)
    )
    bw = (
        f"CASE WHEN ({tot}) > 0e0 THEN "
        f"round(sqrt(({var}) / ({tot})), 9) ELSE 0e0 END"
    )
    return cent, bw


def spectral_shape(
    samples: DataFrame,
    n_bins: int,
    window_samples: int,
    quant: int = 10**6,
) -> DataFrame:
    """Spectral centroid + bandwidth per (channel, window): the
    brightness / spread descriptors audio-ML feature pipelines read
    beside spectral entropy (flatness) and spectral edge (rolloff) —
    computed from the SAME codegen-only quantized-DFT bins as
    ts_power_spectrum.

    Determinism: per-bin powers are the gated bit-exact doubles; the
    window pivots to ONE row (n_bins is a literal), so centroid and
    bandwidth are fixed left-to-right expression chains rounded to
    9 dp (all-zero windows report 0.0 sentinels).

    Output: (channel, win, centroid_bin, bandwidth_bins) — in BIN
    units; multiply by the bin spacing for Hz.

    Plan / 100 TB: the power_spectrum shape (ranking window + narrow
    ×n_bins explode + partial-agg) + one |windows|-row pivot.
    """
    nb = int(n_bins)
    ps = power_spectrum(samples, nb, window_samples, quant)
    piv = ps.groupBy("channel", "win").agg(
        *[
            F.max(
                F.expr(f"CASE WHEN bin = {b} THEN power END")
            ).alias(f"p{b}")
            for b in range(1, nb + 1)
        ]
    )
    cent, bw = spectral_shape_exprs(nb)
    return piv.select(
        "channel",
        F.col("win").cast("long").alias("win"),
        F.expr(cent).alias("centroid_bin"),
        F.expr(bw).alias("bandwidth_bins"),
    )


# --- round-10 additions: pitch / tempo / SNR front-end features -------


PITCH_VOICED_NUM = 3    # voiced iff 10·R(best) > 3·R(0), i.e. 0.3
PITCH_VOICED_DEN = 10


def pitch_track(
    samples: DataFrame,
    frame: int = 64,
    lag_lo: int = 2,
    lag_hi: int = 32,
    quant: int = 100,
    rate_hz: float = 1000.0,
) -> DataFrame:
    """Frame-wise autocorrelation pitch tracking (the time-domain
    core of YIN/RAPT before their refinements): per frame, the lag
    in [lag_lo, lag_hi] maximizing the demeaned autocorrelation
    R(ℓ) = Σ d_t·d_{t−ℓ}; the frame is voiced when the normalized
    peak clears 0.3 (Rabiner 1977's classic threshold). Completes the
    audio front-end trio: energy_vad (level), zero_crossing_rate
    (spectral tilt), pitch (periodicity + f0).

    Determinism: d_t = n·x_t − Σx is the exact BIGINT frame-demean
    (the zcr rule); every R(ℓ) and R(0) accumulates d·d products in
    DECIMAL(38,0); the argmax is taken under the total order
    (R DESC, lag ASC) so ties are exact; voiced is the integer
    cross-multiplication 10·R(best) > 3·R(0) (never a float); the
    normalized strength and f0 are single fixed divisions rounded to
    9 dp. Ragged tail frames drop (the hjorth rule).

    Output: (channel, win, best_lag, voiced, pitch_hz, strength).

    Plan / 100 TB: one per-channel ranking window, the lag products
    via ONE self-equi-join on (channel, win) with a bounded band
    predicate (≤ frame²/2 products per frame), two partial-agg
    groupBys; output is |samples|/frame rows.
    """
    fr, q = int(frame), int(quant)
    lo, hi = int(lag_lo), int(lag_hi)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    ranked = (
        samples.select(
            "channel",
            "ts",
            "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .select(
            "channel", (F.row_number().over(w) - 1).alias("_rn"), "xq"
        )
        .select(
            "channel",
            F.expr(f"_rn div {fr}").alias("win"),
            F.expr(f"_rn % {fr}").alias("pos"),
            "xq",
        )
    )
    per = ranked.groupBy("channel", "win").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("xq").cast("long").alias("_s"),
    )
    from pennsieve_streaming_spark.util import pin

    # d feeds THREE subtrees (R(0) plus both legs of the lag
    # self-join): pin the demeaned table so the ranking-window pass
    # runs once, not three times over the raw scan
    d = pin(
        ranked.join(per, ["channel", "win"])
        .filter(F.col("_n") == fr)
        .select(
            "channel",
            "win",
            "pos",
            F.expr(f"{fr} * xq - _s").alias("_d"),
        )
    )
    r0 = d.groupBy("channel", "win").agg(
        F.sum(F.expr("CAST(_d AS DECIMAL(38,0)) * _d")).alias("_r0")
    )
    a, b = d.alias("a"), d.alias("b")
    r = (
        a.join(
            b,
            (F.col("a.channel") == F.col("b.channel"))
            & (F.col("a.win") == F.col("b.win"))
            & (F.col("a.pos") - F.col("b.pos") >= lo)
            & (F.col("a.pos") - F.col("b.pos") <= hi),
        )
        .select(
            F.col("a.channel").alias("channel"),
            F.col("a.win").alias("win"),
            (F.col("a.pos") - F.col("b.pos")).alias("lag"),
            F.expr("CAST(a._d AS DECIMAL(38,0)) * b._d").alias("_p"),
        )
        .groupBy("channel", "win", "lag")
        .agg(F.sum("_p").alias("_r"))
    )
    bw = Window.partitionBy("channel", "win").orderBy(
        F.desc("_r"), F.asc("lag")
    )
    best = (
        r.withColumn("_rk", F.row_number().over(bw))
        .filter(F.col("_rk") == 1)
        .join(r0, ["channel", "win"])
    )
    return best.select(
        "channel",
        F.col("win").cast("long").alias("win"),
        F.col("lag").cast("long").alias("best_lag"),
        F.expr(
            f"{PITCH_VOICED_DEN} * _r > {PITCH_VOICED_NUM} * _r0"
        ).alias("voiced"),
        F.expr(
            f"round(CAST({rate_hz!r} AS DOUBLE) / lag, 9)"
        ).alias("pitch_hz"),
        F.expr(
            "CASE WHEN _r0 > 0 THEN "
            "round(CAST(_r AS DOUBLE) / CAST(_r0 AS DOUBLE), 9) "
            "ELSE 0e0 END"
        ).alias("strength"),
    )


TEMPO_SCALE = 1024  # onset-strength de-scale keeping Σo·o inside int128


def tempo_estimate(
    samples: DataFrame,
    frame: int = 64,
    lag_lo: int = 4,
    lag_hi: int = 32,
    quant: int = 100,
    rate_hz: float = 1000.0,
) -> DataFrame:
    """Tempo estimation from the energy-novelty curve (the
    autocorrelation half of Ellis 2007's beat tracker, on the exact
    integer onset strength rather than a mel flux): per channel, the
    frame-lag in [lag_lo, lag_hi] maximizing the autocorrelation of
    o_w = max(0, E_w − E_{w−1}), reported as BPM of the implied
    frame period. The global-rhythm companion of mm_audio_onsets
    (which flags individual attacks).

    Determinism: frame energies are exact BIGINT Σxq²; the onset
    strength is an exact integer clamp then an exact integer
    de-scale (div 1024 — keeps Σo·o inside DECIMAL(38,0) at any
    channel length); the lag argmax is taken under (R DESC, lag ASC);
    BPM and strength are single fixed divisions rounded to 9 dp.
    Ragged tail frames drop.

    Output: one row per channel (channel, n_frames, best_lag,
    tempo_bpm, strength).

    Plan / 100 TB: frame rollup is partial-agg; the lag products run
    on the |samples|/frame onset table (a bounded-band self-join),
    never on raw samples.
    """
    fr, q = int(frame), int(quant)
    lo, hi = int(lag_lo), int(lag_hi)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    framed = (
        samples.select(
            "channel",
            "ts",
            "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .select(
            "channel", (F.row_number().over(w) - 1).alias("_rn"), "xq"
        )
        .select(
            "channel", F.expr(f"_rn div {fr}").alias("win"), "xq"
        )
    )
    en = framed.groupBy("channel", "win").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.expr("xq * xq")).cast("long").alias("_e"),
    ).filter(F.col("_n") == fr)
    from pennsieve_streaming_spark.util import pin

    ow = Window.partitionBy("channel").orderBy("win")
    # the onset table feeds R(0) plus both self-join legs: pin it so
    # the frame rollup + lag window run once (|samples|/frame rows —
    # a cheap checkpoint vs three recomputes of the raw-scan window)
    o = pin(
        en.withColumn("_ep", F.lag("_e").over(ow))
        .filter(F.col("_ep").isNotNull())
        .select(
            "channel",
            "win",
            F.expr(
                f"greatest(CAST(0 AS BIGINT), _e - _ep) div {TEMPO_SCALE}"
            ).alias("_o"),
        )
    )
    r0 = o.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum(F.expr("CAST(_o AS DECIMAL(38,0)) * _o")).alias("_r0"),
    )
    # blocked-halo lag join (the asof_join_blocked discipline): a
    # plain channel equi-join with a band FILTER is quadratic in
    # frames per channel (the r10 sf1 point measured x12 at x10
    # frames); blocking win into hi-sized buckets and emitting each
    # b-row under (bucket, bucket+1) keys makes the join equi on
    # (channel, bucket) with <= 2·hi candidates per row — linear.
    a = o.withColumn("_bk", F.expr(f"win div {hi}"))
    b = o.select(
        "channel",
        F.col("win").alias("_bwin"),
        F.col("_o").alias("_bo"),
        F.explode(
            F.expr(f"array(win div {hi}, win div {hi} + 1)")
        ).alias("_bk"),
    )
    r = (
        a.join(b, ["channel", "_bk"])
        .filter(
            (F.col("win") - F.col("_bwin") >= lo)
            & (F.col("win") - F.col("_bwin") <= hi)
        )
        .select(
            "channel",
            (F.col("win") - F.col("_bwin")).alias("lag"),
            F.expr("CAST(_o AS DECIMAL(38,0)) * _bo").alias("_p"),
        )
        .groupBy("channel", "lag")
        .agg(F.sum("_p").alias("_r"))
    )
    bw = Window.partitionBy("channel").orderBy(F.desc("_r"), F.asc("lag"))
    best = (
        r.withColumn("_rk", F.row_number().over(bw))
        .filter(F.col("_rk") == 1)
        .join(r0, ["channel"])
    )
    bpm = f"(60e0 * {rate_hz!r} / ({fr} * lag))"
    return best.select(
        "channel",
        "n_frames",
        F.col("lag").cast("long").alias("best_lag"),
        F.expr(f"round({bpm}, 9)").alias("tempo_bpm"),
        F.expr(
            "CASE WHEN _r0 > 0 THEN "
            "round(CAST(_r AS DOUBLE) / CAST(_r0 AS DOUBLE), 9) "
            "ELSE 0e0 END"
        ).alias("strength"),
    )


def snr_estimate(
    samples: DataFrame,
    frame: int = 64,
    quant: int = 100,
    factor: int = 2,
) -> DataFrame:
    """Channel SNR estimate from the energy_vad split: frames above
    factor×median energy are signal, the rest noise;
    SNR = 10·log10(mean signal energy / mean noise energy). The
    one-number recording-quality score next to mm_audio_vad's
    segment table and mm_audio_dynamic_range's percentile spread.

    Determinism: frame energies and the median split are exact
    integers (the energy_vad rule verbatim); channel-level energy
    sums accumulate in DECIMAL(38,0); the means and the dB finish
    are fixed divisions with log10 inside round(..., 9) (the oracle
    ln-rule); a channel with no noise frames or zero noise energy
    reports the 0.0 sentinel. Ragged tail frames drop.

    Output: one row per channel (channel, n_frames, n_active,
    mean_active_q, mean_noise_q, snr_db).

    Plan / 100 TB: one per-channel ranking window, one frame rollup,
    the median + split on the |samples|/frame table, one final agg.
    """
    from pennsieve_streaming_spark.util import pin

    fr, q = int(frame), int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    framed = (
        samples.select(
            "channel",
            "ts",
            "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .select(
            "channel", (F.row_number().over(w) - 1).alias("_rn"), "xq"
        )
        .select(
            "channel", F.expr(f"_rn div {fr}").alias("win"), "xq"
        )
    )
    # pinned (optimization r11): en feeds the median rank pass, its
    # count, and the signal/noise split — three references that each
    # replayed the raw per-channel sort-window pass.
    en = pin(
        framed.groupBy("channel", "win").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.expr("xq * xq")).cast("long").alias("energy_q"),
        ).filter(F.col("_n") == fr)
    )
    aw = Window.partitionBy("channel").orderBy("energy_q", "win")
    cnt = en.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("_nf")
    )
    med = (
        en.withColumn("_ar", F.row_number().over(aw).cast("long"))
        .join(F.broadcast(cnt), "channel")
        .filter(F.expr("_ar = (_nf + 1) div 2"))
        .select("channel", F.col("energy_q").alias("med_q"))
    )
    g = (
        en.join(F.broadcast(med), "channel")
        .withColumn(
            "_act",
            F.expr(f"CASE WHEN energy_q > {int(factor)} * med_q "
                   "THEN 1 ELSE 0 END"),
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum("_act").cast("long").alias("n_active"),
            F.sum(
                F.expr("CASE WHEN _act = 1 THEN "
                       "CAST(energy_q AS DECIMAL(38,0)) "
                       "ELSE CAST(0 AS DECIMAL(38,0)) END")
            ).alias("_ea"),
            F.sum(
                F.expr("CASE WHEN _act = 0 THEN "
                       "CAST(energy_q AS DECIMAL(38,0)) "
                       "ELSE CAST(0 AS DECIMAL(38,0)) END")
            ).alias("_en"),
        )
    )
    ma = "(CAST(_ea AS DOUBLE) / n_active)"
    mn = "(CAST(_en AS DOUBLE) / (n_frames - n_active))"
    return g.select(
        "channel",
        "n_frames",
        "n_active",
        F.expr(
            f"CASE WHEN n_active > 0 THEN round({ma}, 9) ELSE 0e0 END"
        ).alias("mean_active_q"),
        F.expr(
            "CASE WHEN n_frames - n_active > 0 "
            f"THEN round({mn}, 9) ELSE 0e0 END"
        ).alias("mean_noise_q"),
        F.expr(
            "CASE WHEN n_active > 0 AND n_frames - n_active > 0 "
            "AND _en > 0 THEN "
            f"round(10e0 * log10({ma} / {mn}), 9) ELSE 0e0 END"
        ).alias("snr_db"),
    )


def loudness_range(
    samples: DataFrame,
    frame: int = 64,
    quant: int = 1,
    lo_num: int = 1,
    lo_den: int = 10,
    hi_num: int = 19,
    hi_den: int = 20,
) -> DataFrame:
    """Loudness range per channel — the EBU-R128-style dynamics
    readout (how compressed is this lane): exact integer frame
    energies, the p10/p95 frame-energy order statistics picked by
    integer percentile_disc ranks, and the dB spread between them.
    A mastering-compressed (or clipped) lane shows a small range, a
    live lane a large one; the dynamics gate beside mm_audio_clipping
    (which only sees the ceiling).

    Determinism: frame energy Σxq² is an exact BIGINT (the zcr/vad
    frame discipline, ragged tail drops); the p-th order statistic is
    rank == ceil(p·n) computed in INTEGER arithmetic ((p_num·n +
    p_den − 1) div p_den) over the total order (energy, win); the dB
    finish is ONE log10 inside round(·, 9) (the oracle-quantized
    transcendental class).

    Output: (channel, n_frames, e_p10, e_p95, dyn_range_db) — one
    row per channel; silent-floor lanes (e_p10 = 0) report the 0.0
    sentinel.

    Plan / 100 TB: one ranking window per channel, one frame rollup
    to |samples|/frame rows, one rank window over FRAME rows (not
    samples), one 1-row-per-channel agg.
    """
    fr, q = int(frame), int(quant)
    w = Window.partitionBy("channel").orderBy("ts", "value")
    framed = (
        samples.select(
            "channel",
            "ts",
            "value",
            F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("xq"),
        )
        .select(
            "channel",
            (F.row_number().over(w) - 1).alias("_rn"),
            "xq",
        )
        .select(
            "channel",
            F.expr(f"_rn div {fr}").alias("win"),
            "xq",
        )
        .groupBy("channel", "win")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.expr("xq * xq")).cast("long").alias("e"),
        )
        .filter(F.col("_n") == fr)
    )
    rw = Window.partitionBy("channel").orderBy("e", "win")
    ranked = framed.select(
        "channel", "e", F.row_number().over(rw).alias("_rk")
    )
    n_per = framed.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )
    klo = f"(({lo_num} * n_frames + {lo_den - 1}) div {lo_den})"
    khi = f"(({hi_num} * n_frames + {hi_den - 1}) div {hi_den})"
    g = (
        ranked.join(F.broadcast(n_per), "channel")
        .groupBy("channel")
        .agg(
            F.max("n_frames").alias("n_frames"),
            F.max(F.expr(f"CASE WHEN _rk = {klo} THEN e END"))
            .cast("long")
            .alias("e_p10"),
            F.max(F.expr(f"CASE WHEN _rk = {khi} THEN e END"))
            .cast("long")
            .alias("e_p95"),
        )
    )
    return g.select(
        "channel",
        "n_frames",
        "e_p10",
        "e_p95",
        F.expr(
            "CASE WHEN e_p10 > 0 AND e_p95 > 0 THEN "
            "round(10.0D * log10(CAST(e_p95 AS DOUBLE) "
            "/ CAST(e_p10 AS DOUBLE)), 9) ELSE 0e0 END"
        ).alias("dyn_range_db"),
    )
