"""Time-alignment operators: uniform grids, as-of (LOCF) fill, linear
interpolation, and the bucketized interval (range) join.

Not literal reference operators — the reference resamples by min/max
bucketing only (query/TimeSeriesQueryUtils.scala resample paths) — but
every downstream consumer of an EEG store re-grids irregular samples
before analysis (TimescaleDB ``locf``/``interpolate``, InfluxDB
``fill(previous)``/``fill(linear)`` are the public prior art). These
are the Spark-first forms:

- **Grid**: per-channel uniform timestamps generated distributedly
  (sliced ``sequence`` + ``explode`` — no driver loop, bounded array
  size per row, so a 10-year 1 kHz grid never materializes one giant
  array).
- **As-of / LOCF**: the union-window trick — grid points and samples
  union into ONE per-channel ordered window pass where
  ``last_value(... IGNORE NULLS)`` carries the most recent sample
  forward. One shuffle on (channel), no join, no UDF. This is also a
  general as-of join: "latest right-side row at-or-before each left
  timestamp".
- **Linear interpolation**: same single pass, plus
  ``first_value IGNORE NULLS`` over the following frame for the next
  sample; the lerp is one fixed float expression (identical text on
  both engines ⇒ bit-identical output, each IEEE op is correctly
  rounded — no folds, so no association-order hazard).
- **Range join**: spans × points by time-bucket equi-join + residual
  BETWEEN filter — the standard scale-safe interval join (never a
  cartesian; each (span, point) pair meets in exactly one bucket
  because the point has one bucket and the span explodes each covered
  bucket once).

Determinism contract (cross-engine oracle parity): window order is
``(ts, is_grid, value)`` — samples sort before the grid point at the
same timestamp (so LOCF at an exact hit returns that sample), and
duplicate-timestamp samples resolve by value, so "which sample wins a
tie" is pinned on both engines. Point-value sums in the range join are
1e-6-quantized BIGINTs (associative ⇒ partition-order independent),
the same contract as operators/rolling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1_000_000  # 1e-6 value quantum for exact sums (rolling.py contract)

# max grid points emitted per exploded array row — bounds task memory
# at scale (a channel's grid is sliced into ceil(n/SLICE) arrays)
GRID_SLICE = 65_536


def channel_grid(
    channels: DataFrame, interval_us: int, slice_points: int = GRID_SLICE
) -> DataFrame:
    """Uniform per-channel timestamp grid: ``start_ts + k*interval`` for
    ``k = 0 .. floor((end_ts - start_ts)/interval)``.

    ``channels`` needs (channel, start_ts, end_ts). Generation is
    distributed and sliced: each row first explodes into grid *slices*
    of at most ``slice_points`` points, then each slice explodes its own
    bounded ``sequence`` — so no single array row ever holds a whole
    channel's grid (a 100 TB-scale guard; both explodes are narrow).
    """
    iv = int(interval_us)
    sp = int(slice_points)
    n = (F.floor((F.col("end_ts") - F.col("start_ts")) / iv) + 1).alias("_n")
    sliced = channels.select(
        "channel", "start_ts", n
    ).withColumn(
        "_slice", F.explode(F.sequence(F.lit(0), ((F.col("_n") - 1) / sp).cast("long")))
    )
    k_lo = F.col("_slice") * sp
    k_hi = F.least(F.col("_n") - 1, (F.col("_slice") + 1) * sp - 1)
    return sliced.select(
        "channel", "start_ts", F.explode(F.sequence(k_lo, k_hi)).alias("_k")
    ).select(
        "channel",
        (F.col("start_ts") + F.col("_k") * F.lit(iv)).alias("ts"),
    )


def _union_grid_samples(samples: DataFrame, grid: DataFrame) -> DataFrame:
    s = samples.select(
        "channel", "ts", "value", F.lit(0).alias("is_grid")
    )
    g = grid.select(
        "channel",
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_grid"),
    )
    return s.unionByName(g)


def _blocked_halo_union(
    u: DataFrame, block_us: int, flag: str, look_ahead: bool = False
) -> DataFrame:
    """Split the unioned as-of rows into (channel, time-block)
    partitions with carry halos, so a window partitioned on
    (channel, _blk) reproduces the global per-channel pass
    bit-identically at |channels|×|blocks| parallelism.

    Unlike rolling.py's bounded-lookback halo (replicate the trailing
    ``window_us`` strip), as-of lookback is ONE preceding sample at
    unbounded distance — a fixed time strip can't carry it across an
    arbitrarily long gap. Instead each block gets the *carry-in*: the
    latest sample from any earlier block (max (ts, value) struct,
    matching the (ts, is_grid, value) window order's duplicate-ts
    winner), computed distributedly as per-block partial-agg summaries
    followed by one tiny window pass over 1-row-per-block summaries
    (the two-phase pattern of util.global_rank: heavy rows stay
    distributed, only O(|blocks|) summary rows funnel per channel).
    With ``look_ahead`` (interpolation) each block also gets the
    *carry-back*: the earliest sample from any later block (min
    struct). Halo rows carry ``flag = 0`` (sample side), NULL for any
    payload column, and ``_halo = true`` so they supply history without
    ever emitting; their genuine ts sorts them before (carry-in) /
    after (carry-back) every native row of the block.

    Returns ``u`` + (_blk, _halo) columns with halo rows appended;
    callers window on (channel, _blk) and drop ``_halo`` rows.
    """
    blk = int(block_us)
    if blk <= 0:
        raise ValueError(f"block_us must be positive, got {block_us}")
    # NOT materialized, deliberately (optimization r12): this function
    # references ``u`` from three subtrees (sample-side block
    # summaries, the target-block list, the returned union the caller
    # windows over), which plans as 5 scans — but every replay is a
    # column-pruned scan + project + union, the CHEAPEST possible
    # lineage, while ``u`` itself is |samples|+|probes| rows of
    # payload. Materializing a corpus-sized table to save cheap
    # narrow re-scans inverts the recompute-cheap rule (guide §8);
    # the r12 A/B measured a persist pin here 27% SLOWER at sf0.1
    # (interleaved min-of-3) and at 100 TB it would write the whole
    # union to executor storage. The replayed scans stay.
    extra = [c for c in u.columns if c not in ("channel", "ts", "value", flag)]
    extra_types = {c: u.schema[c].dataType for c in extra}

    samples = u.filter(F.col(flag) == 0).select("channel", "ts", "value")
    per_blk = samples.groupBy(
        "channel", F.floor(F.col("ts") / blk).alias("_b")
    ).agg(
        F.max(F.struct("ts", "value")).alias("_last"),
        F.min(F.struct("ts", "value")).alias("_first"),
    )
    targets = u.select(
        "channel", F.floor(F.col("ts") / blk).alias("_b")
    ).distinct()

    struct_t = "struct<ts:bigint,value:double>"
    merged = per_blk.select(
        "channel",
        "_b",
        F.lit(1).alias("_is_s"),
        F.col("_last").cast(struct_t).alias("_last"),
        F.col("_first").cast(struct_t).alias("_first"),
    ).unionByName(
        targets.select(
            "channel",
            "_b",
            F.lit(0).alias("_is_s"),
            F.lit(None).cast(struct_t).alias("_last"),
            F.lit(None).cast(struct_t).alias("_first"),
        )
    )
    # carry-in: summaries sort AFTER the target at the same block index
    # ((b,1) ≤ (t,0) ⇔ b < t), so 'last ignorenulls' over the preceding
    # frame sees strictly-earlier blocks only.
    w_prev = (
        Window.partitionBy("channel")
        .orderBy("_b", "_is_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "_prev", F.last("_last", ignorenulls=True).over(w_prev)
    )
    if look_ahead:
        # carry-back: summaries sort BEFORE the target at the same
        # block ((b,1desc) ≥ (t,0) ⇔ b > t), so 'first ignorenulls'
        # over the following frame sees strictly-later blocks only.
        w_next = (
            Window.partitionBy("channel")
            .orderBy("_b", F.desc("_is_s"))
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carried = carried.withColumn(
            "_next", F.first("_first", ignorenulls=True).over(w_next)
        )
    carried = carried.filter(F.col("_is_s") == 0)

    def halo_rows(struct_col: str) -> DataFrame:
        return carried.filter(F.col(struct_col).isNotNull()).select(
            "channel",
            F.col(f"{struct_col}.ts").alias("ts"),
            F.col(f"{struct_col}.value").alias("value"),
            F.lit(0).alias(flag),
            *[F.lit(None).cast(extra_types[c]).alias(c) for c in extra],
            F.col("_b").alias("_blk"),
            F.lit(True).alias("_halo"),
        )

    native = u.withColumn("_blk", F.floor(F.col("ts") / blk)).withColumn(
        "_halo", F.lit(False)
    )
    out = native.unionByName(halo_rows("_prev"))
    if look_ahead:
        out = out.unionByName(halo_rows("_next"))
    return out


def asof_locf(
    samples: DataFrame, grid: DataFrame, block_us: int | None = None
) -> DataFrame:
    """Last-observation-carried-forward fill of ``grid`` timestamps from
    ``samples`` — equivalently, an as-of backward join of grid onto
    samples per channel.

    Output: (channel, ts, value, src_ts, stale_us) — ``value``/``src_ts``
    are NULL for grid points before a channel's first sample;
    ``stale_us = ts - src_ts`` is the fill age.

    Plan: ONE window pass per channel over the unioned rows (no join).
    At production channel counts the (channel) partitioning parallelizes
    fully; for few-channels × deep-history pass ``block_us`` for the
    blocked-halo plan (:func:`_blocked_halo_union`): windows evaluate
    within (channel, time-block) with a carry-in halo, bit-identical
    output (equivalence-tested) at |channels|×|blocks| parallelism.
    """
    u = _union_grid_samples(samples, grid)
    if block_us is None:
        part = ["channel"]
    else:
        u = _blocked_halo_union(u, block_us, "is_grid")
        part = ["channel", "_blk"]
    w = (
        Window.partitionBy(*part)
        .orderBy("ts", "is_grid", "value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    src_ts = F.when(F.col("is_grid") == 0, F.col("ts"))
    out = (
        u.withColumn("_fill", F.last("value", ignorenulls=True).over(w))
        .withColumn("_src", F.last(src_ts, ignorenulls=True).over(w))
        .filter(F.col("is_grid") == 1)
    )
    if block_us is not None:
        out = out.filter(~F.col("_halo"))
    return out.select(
        "channel",
        "ts",
        F.col("_fill").alias("value"),
        F.col("_src").alias("src_ts"),
        (F.col("ts") - F.col("_src")).alias("stale_us"),
    )


def interp_resample(
    samples: DataFrame, grid: DataFrame, block_us: int | None = None
) -> DataFrame:
    """Linear interpolation of ``samples`` onto ``grid`` timestamps.

    For each grid point: ``prev`` = latest sample at-or-before, ``next``
    = earliest sample strictly after (in window order). Value:

    - exact hit (``prev_ts == ts``) → that sample's value;
    - both neighbors → ``prev_v + (next_v - prev_v) * (ts - prev_ts)
      / (next_ts - prev_ts)`` (fixed expression, bit-identical across
      engines);
    - boundary (missing neighbor, no exact hit) → row dropped (the
      value is undefined; LOCF is the edge-tolerant variant). A
      missing ``next_ts`` on an exact-hit row reports as -1 so the
      output is NULL-free (hashable/sortable row contract).

    Same single per-channel window pass as :func:`asof_locf`;
    ``block_us`` opts into the blocked-halo plan with BOTH a carry-in
    (lookback) and carry-back (lookahead) halo per block.
    """
    ob = ["ts", "is_grid", "value"]
    u = _union_grid_samples(samples, grid)
    if block_us is None:
        part = ["channel"]
    else:
        u = _blocked_halo_union(u, block_us, "is_grid", look_ahead=True)
        part = ["channel", "_blk"]
    wp = (
        Window.partitionBy(*part)
        .orderBy(*ob)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(*part)
        .orderBy(*ob)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    sample_ts = F.when(F.col("is_grid") == 0, F.col("ts"))
    out = (
        u.withColumn("prev_v", F.last("value", ignorenulls=True).over(wp))
        .withColumn("prev_ts", F.last(sample_ts, ignorenulls=True).over(wp))
        .withColumn("next_v", F.first("value", ignorenulls=True).over(wn))
        .withColumn("next_ts", F.first(sample_ts, ignorenulls=True).over(wn))
        .filter(F.col("is_grid") == 1)
    )
    lerp = F.expr(
        "prev_v + (next_v - prev_v) * "
        "(CAST(ts - prev_ts AS DOUBLE) / CAST(next_ts - prev_ts AS DOUBLE))"
    )
    value = (
        F.when(F.col("prev_ts") == F.col("ts"), F.col("prev_v"))
        .when(F.col("prev_ts").isNotNull() & F.col("next_ts").isNotNull(), lerp)
        .otherwise(F.lit(None).cast("double"))
    )
    return (
        out.select(
            "channel",
            "ts",
            value.alias("value"),
            "prev_ts",
            F.coalesce(F.col("next_ts"), F.lit(-1)).alias("next_ts"),
        )
        .filter(F.col("value").isNotNull())
    )


def span_point_join(
    spans: DataFrame, points: DataFrame, bucket_us: int
) -> DataFrame:
    """Interval join: for each span, aggregate the points whose ``ts``
    falls in ``[span_lo, span_hi]`` (bounds inclusive, matching the
    reference's inclusive span semantics in contiguous_spans).

    ``spans``: (channel, span_lo, span_hi) — channel renamed to
    ``span_channel`` in the output; ``points``: (channel, ts, value),
    joined regardless of channel (the use-case is "which error events
    fall inside each click session").

    Output: (span_channel, span_lo, span_hi, n_points, first_pt_ts,
    last_pt_ts, sum_value_q) — empty spans kept with n_points = 0,
    sum 0 and -1 extremes (NULL-free row contract); ``sum_value_q`` is
    the exact BIGINT 1e-6-quantized value sum.

    Plan (100 TB-safe): spans explode to the time buckets they cover,
    points map to their one bucket, equi-join on bucket + residual
    BETWEEN — each (span, point) pair meets exactly once, never a
    cartesian. Pick ``bucket_us`` ≳ median span length so the explode
    factor stays ~2; AQE handles residual bucket skew.
    """
    b = int(bucket_us)
    sp = spans.select(
        F.col("channel").alias("span_channel"), "span_lo", "span_hi"
    )
    sp_b = sp.withColumn(
        "_blk",
        F.explode(
            F.sequence(F.floor(F.col("span_lo") / b), F.floor(F.col("span_hi") / b))
        ),
    )
    pt = points.select(
        F.floor(F.col("ts") / b).alias("_blk"),
        F.col("ts").alias("pt_ts"),
        F.expr(f"CAST(round(value * {QUANT}) AS BIGINT)").alias("_q"),
    )
    hits = (
        sp_b.join(pt, "_blk")
        .filter(
            (F.col("pt_ts") >= F.col("span_lo"))
            & (F.col("pt_ts") <= F.col("span_hi"))
        )
        .groupBy("span_channel", "span_lo", "span_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min("pt_ts").alias("first_pt_ts"),
            F.max("pt_ts").alias("last_pt_ts"),
            F.sum("_q").cast("long").alias("sum_value_q"),
        )
    )
    return (
        sp.join(hits, ["span_channel", "span_lo", "span_hi"], "left")
        .select(
            "span_channel",
            "span_lo",
            "span_hi",
            F.coalesce(F.col("n_points"), F.lit(0)).cast("long").alias("n_points"),
            F.coalesce(F.col("first_pt_ts"), F.lit(-1)).alias("first_pt_ts"),
            F.coalesce(F.col("last_pt_ts"), F.lit(-1)).alias("last_pt_ts"),
            F.coalesce(F.col("sum_value_q"), F.lit(0)).cast("long").alias(
                "sum_value_q"
            ),
        )
    )


def asof_join(
    samples: DataFrame,
    probes: DataFrame,
    payload_cols: tuple[str, ...] = ("event_id",),
    block_us: int | None = None,
) -> DataFrame:
    """As-of backward join: for each probe row, the latest sample
    at-or-before its timestamp on the same channel — "what was the
    sensor reading when this event fired", the kdb ``aj`` / pandas
    ``merge_asof`` primitive.

    ``probes``: (channel, ts, *payload_cols); ``samples``: (channel,
    ts, value). Callers must ensure at most one sample per (channel,
    ts) (pre-aggregate otherwise) so "the" as-of value is well defined
    — that is also what makes the DuckDB ``ASOF JOIN`` oracle
    deterministic.

    Output: (*payload_cols, channel, probe_ts, value, src_ts,
    stale_us, matched) — probes before a channel's first sample get
    matched = false, value 0.0 and -1 ts/stale (NULL-free row
    contract).

    Plan: the :func:`asof_locf` union-window trick generalized to
    carry probe payload columns — ONE window pass per channel over the
    unioned rows, no join, no UDF. Probe rows order AFTER the sample
    at an equal timestamp (is_probe breaks the tie), giving the
    inclusive ``sample_ts <= probe_ts`` as-of semantics. At scale the
    (channel) partitioning parallelizes across channels; few-channels
    × deep-history passes ``block_us`` for the blocked-halo plan
    (:func:`_blocked_halo_union` — carry-in halo per (channel, block),
    bit-identical output at |channels|×|blocks| parallelism).
    """
    pay = list(payload_cols)
    # Sample-side payload placeholders must carry the probes' actual
    # column types (not a hardcoded long) or unionByName fails for any
    # non-long payload (e.g. a string id).
    pay_types = {c: probes.schema[c].dataType for c in pay}
    s = samples.select(
        "channel",
        "ts",
        "value",
        F.lit(0).alias("is_probe"),
        *[F.lit(None).cast(pay_types[c]).alias(c) for c in pay],
    )
    p = probes.select(
        "channel",
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_probe"),
        *pay,
    )
    u = s.unionByName(p)
    if block_us is None:
        part = ["channel"]
    else:
        u = _blocked_halo_union(u, block_us, "is_probe")
        part = ["channel", "_blk"]
    w = (
        Window.partitionBy(*part)
        .orderBy("ts", "is_probe", "value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    src_ts = F.when(F.col("is_probe") == 0, F.col("ts"))
    return (
        u.withColumn("_fill", F.last("value", ignorenulls=True).over(w))
        .withColumn("_src", F.last(src_ts, ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select(
            *pay,
            "channel",
            F.col("ts").alias("probe_ts"),
            F.coalesce(F.col("_fill"), F.lit(0.0)).alias("value"),
            F.coalesce(F.col("_src"), F.lit(-1)).alias("src_ts"),
            F.coalesce(F.col("ts") - F.col("_src"), F.lit(-1)).alias(
                "stale_us"
            ),
            F.col("_src").isNotNull().alias("matched"),
        )
    )
