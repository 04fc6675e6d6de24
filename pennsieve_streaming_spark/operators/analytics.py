"""Event-stream analytics: active users, retention cohorts, funnels.

The events table carries a user dimension (user_id, event_type, ts)
the time-series core never touches; these are the classic product-
analytics aggregations over it — the same DataFrame-first designs
(partial-agg groupBys, broadcast small sides, no self-cartesians) as
the rest of the engine, and each a plain-SQL replay for the oracle.

100 TB notes per operator are inline; the common theme: everything
reduces user×period first (map-side combine), so the expensive
shuffles carry distinct-user-per-period rows, never raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pennsieve_streaming_spark.util import pin

US = 1_000_000
DAY_US = 86_400 * US
WEEK_US = 7 * DAY_US

# funnel_steps broadcasts a stage frame only up to this many users
FUNNEL_BROADCAST_CAP = 5_000_000


def daily_active(events: DataFrame) -> DataFrame:
    """(day epoch-µs, n_events, active_users) — DAU with exact distinct
    counts. Plan: one groupBy on (day, user) to dedup (map-side
    partials), then a count per day — the shuffle carries user-days,
    not events. For extreme cardinalities swap the exact distinct for
    ``llm/sketch.hll_distinct_by`` (same day key, constant state).
    """
    days = events.select(
        F.expr(f"(ts div {DAY_US}) * {DAY_US}").alias("day"),
        F.col("user_id"),
    )
    per_user = days.groupBy("day", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    return per_user.groupBy("day").agg(
        F.sum("_n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("active_users"),
    )


def weekly_retention(events: DataFrame) -> DataFrame:
    """(week, active, retained_next_week) — users active in week w who
    are also active in week w+1. Plan: distinct (week, user) rows
    self-join on (user, week+1) — both sides are the deduped
    user-week table (orders of magnitude below raw events), equi-join
    on (user_id, week), partial-agg counts.
    """
    uw = (
        events.select(
            F.expr(f"(ts div {WEEK_US}) * {WEEK_US}").alias("week"),
            F.col("user_id"),
        )
        .distinct()
    )
    nxt = uw.select(
        (F.col("week") - WEEK_US).alias("week"), F.col("user_id")
    )
    joined = uw.join(nxt, ["week", "user_id"], "left_semi")
    active = uw.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("active")
    )
    retained = joined.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("retained_next_week")
    )
    return active.join(retained, "week", "left").select(
        "week",
        "active",
        F.coalesce("retained_next_week", F.lit(0)).cast("long").alias(
            "retained_next_week"
        ),
    )


def event_transitions(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k event-type transitions (Markov bigrams of the per-user
    event path): (src_type, dst_type, n_transitions), ordered by count
    desc with (src, dst) tie-break so the cut is deterministic.

    The per-user sequence is totally ordered by (ts, event_id) —
    event_id breaks same-µs ties, so the path (and therefore the
    counts) is a pure function of the data, not of partitioning.

    Plan: one window shuffle keyed on user_id (per-user partitions are
    tiny at any scale — parallelism is |users|), a groupBy that
    collapses to at most |types|² rows with map-side partials, then a
    global top-k that plans as TakeOrderedAndProject (per-partition
    heads merged on the driver, never a full sort).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("src_type"),
        F.col("next_type").alias("dst_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    return counts.orderBy(
        F.desc("n_transitions"), "src_type", "dst_type"
    ).limit(k)


def inter_event_gaps(events: DataFrame) -> DataFrame:
    """Per-event-type inter-arrival statistics: for each consecutive
    pair in a user's (ts, event_id)-ordered path, the gap to the next
    event is attributed to the EARLIER event's type. Output:
    (event_type, n_gaps, sum_gap_us, min_gap_us, max_gap_us,
    avg_gap_us) — sums/extremes are exact integer µs, the average is
    one float division of exact integers so it replays bit-identically.

    Plan: same single user-keyed window shuffle as
    ``event_transitions``, then a partial-agg groupBy down to |types|
    rows. Nothing float accumulates.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("gap", F.lead("ts").over(w) - F.col("ts"))
        .filter(F.col("gap").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("sum_gap_us"),
        F.min("gap").cast("long").alias("min_gap_us"),
        F.max("gap").cast("long").alias("max_gap_us"),
        (F.sum("gap").cast("double") / F.count(F.lit(1))).alias("avg_gap_us"),
    )


def funnel(
    events: DataFrame, first_step: str, second_step: str
) -> DataFrame:
    """Two-step conversion funnel: users whose earliest ``first_step``
    event is later followed by a ``second_step`` event (strictly
    after). One row: (n_first_users, n_converted, sum_delay_us,
    avg_delay_us) — the delay is first-to-first, exact integer µs
    sums so the average replays bit-exactly.

    Plan: per-user min-ts for each step (one partial-agg groupBy per
    step over the filtered scan), broadcast-friendly join on user_id,
    then a one-row aggregate. No window over raw events.
    """
    firsts = (
        events.filter(F.col("event_type") == first_step)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    # earliest second-step event strictly after t1: conditional min
    # over the equi-join of per-user firsts with the second-step scan
    sec_after = (
        events.filter(F.col("event_type") == second_step)
        .select("user_id", F.col("ts").alias("ts2"))
        .join(firsts, "user_id")
        .filter(F.col("ts2") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts2").alias("t2"), F.max("t1").alias("t1"))
    )
    conv = sec_after.select((F.col("t2") - F.col("t1")).alias("delay"))
    agg = conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.coalesce(F.sum("delay"), F.lit(0)).cast("long").alias("sum_delay_us"),
    )
    nf = firsts.agg(F.count(F.lit(1)).cast("long").alias("n_first_users"))
    return agg.crossJoin(F.broadcast(nf)).select(
        "n_first_users",
        "n_converted",
        "sum_delay_us",
        F.expr(
            "CASE WHEN n_converted = 0 THEN CAST(0 AS DOUBLE) "
            "ELSE CAST(sum_delay_us AS DOUBLE) / n_converted END"
        ).alias("avg_delay_us"),
    )


def user_sessions(events: DataFrame, gap_us: int) -> DataFrame:
    """Inactivity-gap sessionization of the user event stream: a new
    session starts when a user is idle longer than ``gap_us``. One row
    per session: (user_id, session_start, session_end, n_events,
    duration_us) — all integers, so the replay is exact.

    This is the product-analytics sibling of the channel-sample
    ``contiguous_spans`` sessionizer (gaps.py): same lag + cumulative-
    flag technique, but keyed on users and driven by the inactivity
    threshold rather than sampling cadence.

    Plan: one window shuffle keyed on user_id (per-user event counts
    are small at any corpus size), then a groupBy on the derived
    session key with map-side partials. |users| bounds parallelism —
    effectively unbounded at scale.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select("user_id", "ts", "event_id").withColumn(
        "new_sess",
        F.when(
            (F.col("ts") - F.lag("ts").over(w)) > gap_us, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    keyed = flagged.withColumn(
        "sess",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return keyed.groupBy("user_id", "sess").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ts") - F.min("ts")).alias("duration_us"),
    ).select(
        "user_id", "session_start", "session_end", "n_events", "duration_us"
    )


def cohort_matrix(events: DataFrame, max_weeks: int = 8) -> DataFrame:
    """Full retention cohort triangle: users grouped by their FIRST
    active week (the cohort), tracked for ``max_weeks`` following
    weeks. Output: (cohort_week, week_n, cohort_size, retained,
    retention) for week_n in 0..max_weeks — week_n = 0 rows carry
    retained == cohort_size; retention is one exact-integer division.

    Plan: one groupBy to per-user first weeks, one distinct to
    user-weeks, an equi-join on user_id (both sides deduped — orders
    of magnitude below raw events), then a partial-agg rollup to
    |weeks|×max_weeks rows.
    """
    uw = (
        events.select(
            F.expr(f"(ts div {WEEK_US}) * {WEEK_US}").alias("week"),
            F.col("user_id"),
        )
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    joined = uw.join(first, "user_id").select(
        "cohort_week",
        F.expr(f"(week - cohort_week) div {WEEK_US}").alias("week_n"),
    ).filter(F.col("week_n") <= max_weeks)
    ret = joined.groupBy("cohort_week", "week_n").agg(
        F.count(F.lit(1)).cast("long").alias("retained")
    )
    return ret.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_n",
        "cohort_size",
        "retained",
        (
            F.col("retained").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


def funnel_steps(events: DataFrame, steps: list[str]) -> DataFrame:
    """N-step ordered funnel: per step k, how many users completed
    steps[0..k] in strict time order (each step's event strictly after
    the previous step's matched event; matching is earliest-possible,
    the standard greedy funnel semantics). Output: (step_idx, step,
    n_users) for every step, including 0 for unreached tail steps.

    Plan: K-1 chained equi-joins on user_id — every side is a per-user
    min-ts aggregate (|users| rows, not events), so each join is
    broadcast-friendly; no window over raw events. All K step counts
    fold into ONE job: each stage's per-user frame is tagged with its
    step_idx and unioned, so a single groupBy action computes every
    count (K scheduler round-trips and K driver-side .count() calls
    would not scale to long funnels), with a broadcast step-name dim
    filling unreached tail steps with 0.
    """
    from pennsieve_streaming_spark.util import pin

    # Each stage's per-user frame is PINNED (optimization r11): stage
    # i feeds both its union branch and stage i+1's join, so without
    # the pin stage 0's filtered events scan replayed in every later
    # stage (K scans of step 0, K-1 of step 1, ... — quadratic in
    # funnel depth). Pinned frames are |users| rows each. NOTE the
    # operator is EAGER by design: each stage runs construction-time
    # materialization + count jobs — the price of the barrier that
    # stops AQE's concurrent subtrees recomputing every stage.
    #
    # The stage join's broadcast is SIZE-GATED (ADVICE r11, medium):
    # the checkpoint strips the size statistics the planner used, and
    # an unconditional F.broadcast of the unbounded per-user frame
    # could blow the broadcast limit / driver memory at the 100 TB
    # target. The frame is already materialized, so the gate count is
    # a cheap job over stored blocks; above the cap the hint is
    # dropped and the planner shuffle-joins. (A persist()+count
    # pin_big variant that restores real stats was A/B'd and measured
    # +54% wall at sf0.1 — AQE TableCacheQueryStage round-trips — so
    # the gated checkpoint keeps both the speed and the safety.)
    def _stage_join_side(frame):
        n = frame.limit(FUNNEL_BROADCAST_CAP + 1).count()
        return F.broadcast(frame) if n <= FUNNEL_BROADCAST_CAP else frame

    cur = pin(
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    stages = [
        cur.select(F.lit(0).cast("long").alias("step_idx"), "user_id")
    ]
    for i, step in enumerate(steps[1:], start=1):
        cur = pin(
            events.filter(F.col("event_type") == step)
            .select("user_id", F.col("ts").alias("ts_n"))
            .join(_stage_join_side(cur), "user_id")
            .filter(F.col("ts_n") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts_n").alias("t"))
        )
        stages.append(
            cur.select(F.lit(i).cast("long").alias("step_idx"), "user_id")
        )
    reached = stages[0]
    for s in stages[1:]:
        reached = reached.unionByName(s)
    counts = reached.groupBy("step_idx").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    spark = events.sparkSession
    dim = spark.createDataFrame(
        [(i, s) for i, s in enumerate(steps)], "step_idx long, step string"
    )
    # broadcast the |steps|-row count table: K rows by construction
    # (one per funnel step), so the hint is size-safe at any scale
    return dim.join(F.broadcast(counts), "step_idx", "left").select(
        "step_idx",
        "step",
        F.coalesce(F.col("_n"), F.lit(0).cast("long")).alias("n_users"),
    )


def last_touch(
    events: DataFrame, conversion: str
) -> DataFrame:
    """Last-touch attribution: for every ``conversion`` event, the
    type of the user's most recent STRICTLY-prior event (any
    non-conversion type). Conversions with no prior touch attribute to
    'none'. Output: (touch_type, n_conversions).

    Plan: one per-user ordered window (last non-conversion type seen
    so far via a conditional running max on (ts, event_id)-packed
    keys), then a groupBy to |types| rows — no self-join of events.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = events.select(
        "user_id", "ts", "event_id", "event_type"
    ).withColumn(
        "prior_touch",
        F.last(
            F.when(F.col("event_type") != conversion, F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    conv = tagged.filter(F.col("event_type") == conversion)
    return (
        conv.select(
            F.coalesce("prior_touch", F.lit("none")).alias("touch_type")
        )
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
    )


def stickiness(events: DataFrame, window_days: int = 30) -> DataFrame:
    """DAU/MAU stickiness: for every active day, the distinct users
    that day over the distinct users of the trailing ``window_days``
    window — the engagement ratio product teams track daily.

    Plan: raw events reduce to distinct user-days first; each user-day
    then supports the ``window_days`` future day-buckets it counts
    toward (a narrow ×window explode of the DEDUPED user-day table —
    orders of magnitude below events), and one distinct-count per day
    closes it. Only days with activity are emitted (mau > 0 by
    construction; dau = 0 days are skipped, the standard dashboard
    convention).

    Output: (day, dau, mau, stickiness) — stickiness = dau/mau, one
    float division of exact integers.
    """
    ud = (
        events.select(
            F.expr(f"(ts div {DAY_US}) * {DAY_US}").alias("day"),
            "user_id",
        )
        .distinct()
    )
    dau = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    supported = ud.select(
        F.explode(
            F.expr(
                f"sequence(day, day + {int(window_days) - 1} * {DAY_US}, {DAY_US})"
            )
        ).alias("day"),
        "user_id",
    ).distinct()
    mau = supported.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("mau")
    )
    return dau.join(mau, "day").select(
        "day",
        "dau",
        "mau",
        (F.col("dau").cast("double") / F.col("mau").cast("double")).alias(
            "stickiness"
        ),
    )


def markov_entropy(events: DataFrame) -> DataFrame:
    """Per-source-type transition entropy of the event Markov chain —
    H(dst | src) = -Σ_d p_d ln p_d over the next-event-type
    distribution of each src type. Low entropy = predictable flows
    (funnels), high entropy = scattered navigation; the event-path
    cousin of llm/text.token_entropy's repetition gate.

    Determinism contract (token_entropy's): each destination
    contributes the integer nano-nat weight ``c_d * round(ln(c_d/n) *
    1e9)`` so the cross-destination reduction is an exact order-free
    integer sum; entropy derives from that one integer with a fixed
    cast-and-divide expression. Unlike token_entropy (per-document
    counts, always small), a global (src, dst) count can reach 1e9+,
    where ``c · |ln p| · 1e9`` exceeds 2^63 — so the accumulator is
    DECIMAL(38,0) (the power_spectrum widening), exact to 1e38, and
    the oracle sums in HUGEINT; both engines cast the identical exact
    integer to DOUBLE at the end. NULL event_type rows are dropped up
    front (the top_event_paths convention, so SQL '||'/LEAD oracles
    see the same windows).

    Output: (src_type, n_out, distinct_dst, entropy) — n_out =
    outgoing transitions, entropy in nats.

    Plan: one window shuffle on user_id (per-user partitions), a
    groupBy collapsing to ≤ |types|² rows with map-side partials, then
    a |types|-row aggregate — nothing after the window touches more
    than |types|² rows at any scale.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .filter(F.col("event_type").isNotNull())
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("src_type"),
        F.col("next_type").alias("dst_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_src = counts.groupBy("src_type").agg(
        F.sum("c").cast("long").alias("n_out"),
        F.count(F.lit(1)).cast("long").alias("distinct_dst"),
        F.collect_list(F.struct("dst_type", "c")).alias("_dc"),
    )
    ent_q = F.expr(
        "aggregate(_dc, CAST(0 AS DECIMAL(38,0)), (acc, s) -> acc + "
        "CAST(s.c AS DECIMAL(38,0)) * "
        "CAST(round(ln(CAST(s.c AS DOUBLE) / n_out) * 1000000000) AS DECIMAL(38,0)))"
    )
    return (
        per_src.withColumn("_hq", ent_q)
        .select(
            "src_type",
            "n_out",
            "distinct_dst",
            (-(F.col("_hq").cast("double") / 1_000_000_000) / F.col("n_out")).alias(
                "entropy"
            ),
        )
    )


def top_event_paths(
    events: DataFrame, steps: int = 3, k: int = 20
) -> DataFrame:
    """Top-k most frequent ``steps``-long event-type paths (consecutive
    runs of the per-user (ts, event_id)-ordered event sequence) — the
    n-step generalization of :func:`event_transitions` used for user
    journey / clickstream path mining.

    Output: (path, n_paths) where ``path`` is the '>'-joined type
    string (e.g. 'view>click>purchase'); ordered by count desc with a
    path tie-break so the top-k cut is deterministic.

    Plan: ONE window shuffle keyed on user_id producing ``steps - 1``
    leads in the same pass (Spark collapses same-window leads into a
    single WindowExec), a map-side-partial groupBy bounded by |types|^k
    rows, and a TakeOrderedAndProject top-k — no full sort, no join.
    At 100 TB the window parallelism is |users| and the aggregate is
    tiny; nothing else shuffles.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Drop NULL event_type rows up front: concat_ws silently skips
    # NULLs (emitting a shortened 'a>c' path) while a '||'-style SQL
    # oracle propagates NULL — filtering first makes both engines see
    # the same windows, so parity holds even on NULL-bearing corpora.
    df = events.select("user_id", "ts", "event_id", "event_type").filter(
        F.col("event_type").isNotNull()
    )
    parts = [F.col("event_type")]
    for i in range(1, int(steps)):
        df = df.withColumn(f"_t{i}", F.lead("event_type", i).over(w))
        parts.append(F.col(f"_t{i}"))
    df = df.filter(parts[-1].isNotNull())
    return (
        df.select(F.concat_ws(">", *parts).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(int(k))
    )


def rfm_scores(events: DataFrame, buckets: int = 5) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring — the
    classic marketing segmentation: per user, days since last event,
    event count, and cent-quantized value sum, each bucketed into
    ``buckets`` quantile groups (1 = best: most recent / most frequent
    / highest spend).

    The quantile bucket is NTILE semantics (first ``n mod k`` groups
    get one extra row), but computed WITHOUT the single-task global
    window NTILE needs: each metric gets an exact two-phase
    ``util.global_rank`` (range partition + local row_number + offset
    fold) over the per-user table, and the bucket derives from the
    rank with the closed form

        r0 = rank-1; q = n // k; rem = n mod k; cut = rem*(q+1)
        bucket = r0 // (q+1) + 1            if r0 < cut
                 rem + 1 + (r0 - cut) // q  otherwise

    — bit-identical to NTILE(k) under a total order (user_id breaks
    ties), all-integer, engine-independent. The per-user table is
    orders of magnitude smaller than events, so three rank passes over
    it are cheap at any scale; |users| = 1e9 would funnel through ONE
    task under a window NTILE.

    Monetary uses the sax-class cent quantization
    ``SUM(CAST(round(value*100) AS BIGINT))`` so the cross-row sum is
    an exact integer in both engines.

    Output: (user_id, recency_days, frequency, monetary_q, monetary,
    r_score, f_score, m_score, rfm) with rfm = r*100 + f*10 + m.
    """
    from pennsieve_streaming_spark.util import global_rank

    k = int(buckets)
    per_user = events.groupBy("user_id").agg(
        F.max("ts").alias("_last_ts"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("long")
        .alias("monetary_q"),
    )
    ref = per_user.agg(
        F.max("_last_ts").alias("_ref_ts"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    u = per_user.crossJoin(F.broadcast(ref)).withColumn(
        "recency_days",
        F.expr(f"CAST((_ref_ts - _last_ts) div {DAY_US} AS BIGINT)"),
    )
    u = global_rank(u, [F.asc("recency_days"), F.asc("user_id")], "_rr")
    u = global_rank(u, [F.desc("frequency"), F.asc("user_id")], "_fr")
    u = global_rank(u, [F.desc("monetary_q"), F.asc("user_id")], "_mr")

    def ntile(rank_col: str) -> F.Column:
        return F.expr(
            f"CAST(CASE WHEN {rank_col} - 1 < (_n % {k}) * (_n div {k} + 1) "
            f"THEN ({rank_col} - 1) div (_n div {k} + 1) + 1 "
            f"ELSE (_n % {k}) + 1 + "
            f"({rank_col} - 1 - (_n % {k}) * (_n div {k} + 1)) div (_n div {k}) "
            f"END AS BIGINT)"
        )

    return (
        u.withColumn("r_score", ntile("_rr"))
        .withColumn("f_score", ntile("_fr"))
        .withColumn("m_score", ntile("_mr"))
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_q",
            (F.col("monetary_q").cast("double") / 100).alias("monetary"),
            "r_score",
            "f_score",
            "m_score",
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            ).cast("long").alias("rfm"),
        )
    )


def linear_attribution(events: DataFrame, conversion: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution — the fairness
    counterpart of :func:`last_touch`: every ``conversion`` event
    splits one unit of credit EQUALLY across all touch events in its
    attribution segment (the events after the user's previous
    conversion and before this one). Conversions with no prior touch
    in their segment credit 'none'; NULL event types are not touches
    (the top_event_paths NULL convention).

    Determinism: per-touch credit is the integer nano-credit
    ``round(1e9 / n_seg)`` (one double division + round, identical in
    both engines), so cross-conversion accumulation is an exact BIGINT
    sum — no float fold whose result depends on aggregation order.
    The emitted ``credit`` is one cast-and-divide at the end.

    Plan: segment ids from ONE per-user ordered window (running count
    of prior conversions); touches collapse to (user, seg, type)
    counts with map-side partials; segment sizes via a window over
    that already-aggregated table (per-user segments are small — no
    skew); one equi-join of conversions to their segment's touch
    counts; final groupBy to |types| rows. Events are never
    self-joined row-to-row.

    Output: (touch_type, n_conversions, credit_q, credit) where
    n_conversions = conversions crediting the type and credit sums to
    ~#conversions over all types (exact up to the 1e-9 quantum).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = events.select(
        "user_id", "ts", "event_id", "event_type"
    ).withColumn(
        "seg",
        F.count(F.when(F.col("event_type") == conversion, 1)).over(w),
    )
    touches = (
        base.filter(F.col("event_type") != conversion)
        .groupBy("user_id", "seg", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c_t"))
    )
    wseg = Window.partitionBy("user_id", "seg")
    touches = touches.withColumn(
        "n_seg", F.sum("c_t").over(wseg).cast("long")
    )
    convs = base.filter(F.col("event_type") == conversion).select(
        "user_id", "seg"
    )
    j = convs.join(touches, ["user_id", "seg"], "left").select(
        F.coalesce(F.col("event_type"), F.lit("none")).alias("touch_type"),
        F.coalesce(F.col("c_t"), F.lit(1).cast("long")).alias("c_t"),
        F.coalesce(F.col("n_seg"), F.lit(1).cast("long")).alias("n_seg"),
    )
    return (
        j.withColumn(
            "rq",
            F.expr(
                "CAST(round(1000000000e0 / CAST(n_seg AS DOUBLE)) AS BIGINT)"
            ),
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.sum(F.col("c_t") * F.col("rq")).cast("long").alias("credit_q"),
        )
        .withColumn(
            "credit", F.col("credit_q").cast("double") / 1_000_000_000
        )
    )


def ab_conversion_test(events: DataFrame, conversion: str) -> DataFrame:
    """Two-proportion A/B conversion test: users hash-assigned to
    variants A/B (``user_id % 2`` — the deterministic bucket
    assignment every experimentation platform uses), per-variant
    conversion rate (users with >= 1 ``conversion`` event over users),
    and the pooled two-proportion z statistic

        z = (pA - pB) / sqrt(p(1-p)(1/nA + 1/nB)),  p = pooled rate.

    Determinism: the four underlying counts are exact integers; every
    float after is ONE fixed expression over them (IEEE sqrt is
    correctly rounded, so both engines produce the identical double).
    Degenerate splits (an empty variant, or pooled rate 0/1 => zero
    variance) yield z = 0.0 (never NULL — compared outputs are
    NULL-free by harness policy).

    Output: one row (n_a, conv_a, n_b, conv_b, rate_a, rate_b, z).

    Plan: events collapse to per-user conversion flags (one groupBy
    with map-side partials), then a 2-row variant rollup and a 1-row
    conditional-sum pivot — nothing after the first groupBy exceeds
    |users| rows, and the final stages are constant-size.
    """
    per_user = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == conversion, 1).otherwise(0)
        ).alias("converted")
    )
    flagged = per_user.select(
        # pmod, not %: Spark's % keeps the dividend's sign, so a
        # negative user_id would land in variant -1 and silently drop
        # out of both arms (ADVICE r6).
        F.pmod(F.col("user_id"), F.lit(2)).alias("variant"),
        "converted",
    )
    one = flagged.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    return one.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        # Degenerate arms / zero-variance pools report 0.0, never
        # NULL (NULL-free compared-output policy; 0 = "no evidence",
        # the ev_ab_sequential convention).
        F.expr(
            "CASE WHEN n_a > 0 THEN CAST(conv_a AS DOUBLE) / n_a "
            "ELSE 0e0 END"
        ).alias("rate_a"),
        F.expr(
            "CASE WHEN n_b > 0 THEN CAST(conv_b AS DOUBLE) / n_b "
            "ELSE 0e0 END"
        ).alias("rate_b"),
        F.expr(
            "CASE WHEN n_a > 0 AND n_b > 0 "
            "AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b "
            "THEN (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) "
            "/ sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) "
            "* (1e0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) "
            "* (1e0 / n_a + 1e0 / n_b)) ELSE 0e0 END"
        ).alias("z"),
    )


def session_duration_stats(
    events: DataFrame, gap_us: int, ps: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Corpus-wide session-length summary: exact interpolated
    percentiles and mean of the :func:`user_sessions` durations — the
    engagement-distribution panel every product dashboard opens with.

    The percentile is the channel_percentiles order-statistic
    interpolation, but the ranking is GLOBAL over all sessions — so it
    runs on the two-phase ``util.global_rank`` (range partition +
    offset fold) instead of an all-rows single-task window; |sessions|
    can reach |users|×days at scale.

    Determinism: durations are exact integer µs; each percentile picks
    two bracketing order statistics under a total order (duration,
    user_id, session_start) and interpolates with one fixed float
    expression; the mean is one division of exact integers.

    Output: one row (n_sessions, mean_us, p50, p90, p99).
    """
    from pennsieve_streaming_spark.util import global_rank

    s = user_sessions(events, gap_us).select(
        "user_id", "session_start", "duration_us"
    )
    ranked = global_rank(
        s,
        [F.asc("duration_us"), F.asc("user_id"), F.asc("session_start")],
        "_r",
    )
    # totals from the already-checkpointed ranked table (max rank = n),
    # NOT from s — aggregating s would re-run the whole sessionization
    # window pass a second time
    tot = ranked.agg(
        F.max("_r").cast("long").alias("n"),
        F.sum("duration_us").cast("long").alias("sdur"),
    )
    j = ranked.crossJoin(F.broadcast(tot))
    aggs = [
        F.max("n").cast("long").alias("n_sessions"),
        F.max("sdur").cast("long").alias("_sdur"),
    ]
    posts = []
    for p in ps:
        name = f"p{str(p).replace('0.', '').ljust(2, '0')}"
        idx = F.expr(f"CAST(floor(CAST({p!r} AS DOUBLE) * (n - 1)) AS BIGINT)")
        nxt = F.expr(
            f"least(CAST(floor(CAST({p!r} AS DOUBLE) * (n - 1)) AS BIGINT)"
            " + 1, n - 1)"
        )
        aggs.append(
            F.max(F.when(F.col("_r") - 1 == idx, F.col("duration_us"))).alias(
                f"_lo_{name}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("_r") - 1 == nxt, F.col("duration_us"))).alias(
                f"_hi_{name}"
            )
        )
        posts.append(
            F.expr(
                f"_lo_{name} + (_hi_{name} - _lo_{name}) * "
                f"(CAST({p!r} AS DOUBLE) * (n_sessions - 1) "
                f"- floor(CAST({p!r} AS DOUBLE) * (n_sessions - 1)))"
            ).alias(name)
        )
    out = j.agg(*aggs)
    # a global agg over an empty input still yields one all-NULL row;
    # the relational replay yields zero rows — drop it so both engines
    # agree on empty corpora
    return out.filter(F.col("n_sessions").isNotNull()).select(
        "n_sessions",
        F.expr("CAST(_sdur AS DOUBLE) / n_sessions").alias("mean_us"),
        *posts,
    )


def gini_concentration(events: DataFrame) -> DataFrame:
    """Gini coefficient of per-user activity concentration, per event
    type — the standard inequality measure product teams use to answer
    "is this feature carried by a few power users?" (G = 0 everyone
    equal, G → 1 a single user dominates). Pairs with
    ``key_skew_report`` (which ranks hot keys) by giving the one-number
    distributional summary.

    Using the rank form over counts sorted ascending (x_i the i-th
    smallest user count):

        G = Σᵢ (2i − n − 1)·xᵢ / (n · Σ xᵢ)

    Determinism + scale: per-(type, user) counts are exact integers;
    the within-type rank comes from ONE two-phase `util.global_rank`
    over (event_type, count, user_id) — a total order — minus each
    type's broadcast rank offset, so no single-task window exists even
    at 10⁹ users. The weighted sum accumulates in DECIMAL(38,0)
    (i·x can pass 2⁶³ at web scale; the markov_entropy class) and the
    final Gini is one fixed float expression. The DECIMAL→DOUBLE cast
    is exact below 2⁵³ (the source_kl replay envelope — beyond ~9e15
    the last ulp is engine-dependent, documented not silent).

    Output: (event_type, n_users, total_events, gini).
    """
    from pennsieve_streaming_spark.util import global_rank

    counts = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ranked = global_rank(
        counts,
        [F.asc("event_type"), F.asc("c"), F.asc("user_id")],
        "_gr",
    )
    offs = ranked.groupBy("event_type").agg(
        F.min("_gr").cast("long").alias("_o"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("total_events"),
    )
    j = ranked.join(F.broadcast(offs), "event_type").withColumn(
        "_i", (F.col("_gr") - F.col("_o") + 1).cast("long")
    )
    g = j.groupBy("event_type", "n_users", "total_events").agg(
        F.sum(
            F.expr(
                "CAST(2 * _i - n_users - 1 AS DECIMAL(38,0)) * c"
            )
        ).alias("_num")
    )
    return g.select(
        "event_type",
        "n_users",
        "total_events",
        F.expr(
            "CAST(_num AS DOUBLE) / (CAST(n_users AS DOUBLE) "
            "* CAST(total_events AS DOUBLE))"
        ).alias("gini"),
    )


# Fixed float finishes for association rules, shared verbatim with the
# DuckDB oracle (the granger shared-expression discipline). Inputs are
# exact BIGINTs, so each metric is one deterministic IEEE expression.
AR_SUPPORT = "CAST(n_ab AS DOUBLE) / n_users"
AR_CONFIDENCE = "CAST(n_ab AS DOUBLE) / n_a"
AR_LIFT = (
    "(CAST(n_ab AS DOUBLE) * CAST(n_users AS DOUBLE)) "
    "/ (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
)


def assoc_rules(events: DataFrame, min_support_users: int = 5) -> DataFrame:
    """Association rules over per-user event-type baskets — the
    market-basket staple (the pair-depth output surface of Apriori /
    FP-Growth): a user's basket is the SET of event types they ever
    emitted; every ordered rule ``a -> b`` (a != b) whose pair support
    reaches ``min_support_users`` users ships with support,
    confidence and lift. Lift > 1 is the cross-feature-adoption
    signal product teams act on; confidence is the directional
    recommendation strength.

    Determinism: basket membership is a distinct projection; all four
    counts (n_ab, n_a, n_b, n_users) are exact BIGINTs; the three
    metrics are single fixed float expressions (AR_* shared verbatim
    with the oracle).

    Scale: baskets dedup to at most |users| x |types| rows via one
    partial-agg distinct; the self-join is co-partitioned on user_id
    (both sides shuffle once on the same key) with per-user fan-out
    bounded by |types|^2 — no skew beyond the bounded basket width;
    item counts and the 1-row user total broadcast back. Never a
    cartesian, never a collect.

    Output: (antecedent, consequent, n_ab, n_a, n_b, n_users,
    support, confidence, lift).
    """
    from pennsieve_streaming_spark.util import pin

    ms = int(min_support_users)
    # pinned (optimization r11): the user total, the item counts, and
    # both self-join legs reference the basket table — four replays of
    # the events scan + distinct exchange without the pin.
    # Flavor note (optimization r12): a persist-based pin_big was
    # A/B'd and REJECTED — identical plan shape but +57% wall
    # (columnar encode + 5x decode vs raw checkpoint rows, interleaved
    # min-of-3, no overlap across runs); see OPTIMIZATION_r12.md §2.2.
    baskets = pin(events.select("user_id", "event_type").distinct())
    n_users = baskets.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    item = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a = baskets.select("user_id", F.col("event_type").alias("antecedent"))
    b = baskets.select("user_id", F.col("event_type").alias("consequent"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= ms)
    )
    out = (
        pairs.join(
            F.broadcast(item.withColumnRenamed("event_type", "antecedent")),
            "antecedent",
        )
        .withColumnRenamed("n_item", "n_a")
        .join(
            F.broadcast(item.withColumnRenamed("event_type", "consequent")),
            "consequent",
        )
        .withColumnRenamed("n_item", "n_b")
        .crossJoin(F.broadcast(n_users))
    )
    return out.select(
        "antecedent",
        "consequent",
        "n_ab",
        "n_a",
        "n_b",
        "n_users",
        F.expr(AR_SUPPORT).alias("support"),
        F.expr(AR_CONFIDENCE).alias("confidence"),
        F.expr(AR_LIFT).alias("lift"),
    )


# Fixed float finish for the SRM chi-square (1 df, equal-split null):
# with d = n_a − n/2, chi² = d²/E_a + d²/E_b = 4d²/n. Shared verbatim
# with the oracle; 3.841 is the 95% chi²(1) critical value literal.
SRM_CHI2 = (
    "CASE WHEN n_total > 0 THEN "
    "4.0 * (CAST(n_a AS DOUBLE) - CAST(n_total AS DOUBLE) / 2) "
    "* (CAST(n_a AS DOUBLE) - CAST(n_total AS DOUBLE) / 2) "
    "/ n_total END"
)
SRM_CRIT = "3.841"


def ab_srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch guardrail per exposure surface — THE
    experimentation health check that must pass before any A/B
    readout (a biased assignment invalidates ev_ab_conversion's z
    test): for each event_type, the users exposed to it split by the
    hash assignment (user_id % 2) should be 50/50; the chi-square
    statistic against that null flags broken bucketing, bot traffic,
    or logging loss.

    Determinism: exposure is a distinct projection; the two variant
    counts are exact BIGINTs; chi² is one fixed float expression
    (SRM_CHI2) and the flag one comparison against the 3.841 literal
    (95% chi²(1)).

    Scale: one partial-agg distinct on (event_type, user_id), one
    groupBy to |event_types| rows. Nothing after the dedup exceeds
    the type cardinality.

    Output: (event_type, n_a, n_b, n_total, chi2, srm).
    """
    exposed = events.select("event_type", "user_id").distinct()
    # pmod: sign-safe bucket for negative user_ids (ADVICE r6) — with
    # plain % a negative id's variant is -1, excluded from both arms
    # while still inflating n_total and biasing chi².
    variant = F.pmod(F.col("user_id"), F.lit(2))
    g = exposed.groupBy("event_type").agg(
        F.sum(F.when(variant == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(variant == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        "n_total",
        F.expr(SRM_CHI2).alias("chi2"),
        F.expr(f"{SRM_CHI2} > {SRM_CRIT}").alias("srm"),
    )


def conversion_lag_stats(
    events: DataFrame,
    conversion: str = "purchase",
    ps: tuple = (0.5, 0.9),
) -> DataFrame:
    """Time-to-convert distribution — the funnel-velocity number next
    to ev_funnel's volume: per converting user, the lag from their
    FIRST event of any kind to their FIRST ``conversion`` event;
    summarized as exact interpolated percentiles + mean. Slow p90
    lag is the activation-problem signal conversion RATE hides.

    Determinism + scale: the per-user rollup is one partial-agg
    groupBy (two conditional MINs — no sessionization pass); lags are
    exact integer µs; ranking is GLOBAL over converting users, so it
    runs on the two-phase ``util.global_rank``, never a single-task
    window; percentiles are the channel_percentiles order-statistic
    interpolation under the total order (lag_us, user_id); the mean
    is one division of exact integers.

    Output: one row (n_converted, mean_us, p50, p90); empty when no
    user converts (both engines agree — the session_stats rule).
    """
    from pennsieve_streaming_spark.util import global_rank

    per = (
        events.groupBy("user_id")
        .agg(
            F.min("ts").alias("_first_ts"),
            F.min(
                F.when(F.col("event_type") == conversion, F.col("ts"))
            ).alias("_conv_ts"),
        )
        .filter(F.col("_conv_ts").isNotNull())
        .select(
            "user_id",
            (F.col("_conv_ts") - F.col("_first_ts")).alias("lag_us"),
        )
    )
    ranked = global_rank(per, [F.asc("lag_us"), F.asc("user_id")], "_r")
    tot = ranked.agg(
        F.max("_r").cast("long").alias("n"),
        F.sum("lag_us").cast("long").alias("slag"),
    )
    j = ranked.crossJoin(F.broadcast(tot))
    aggs = [
        F.max("n").cast("long").alias("n_converted"),
        F.max("slag").cast("long").alias("_slag"),
    ]
    posts = []
    for p in ps:
        name = f"p{str(p).replace('0.', '').ljust(2, '0')}"
        idx = F.expr(f"CAST(floor(CAST({p!r} AS DOUBLE) * (n - 1)) AS BIGINT)")
        nxt = F.expr(
            f"least(CAST(floor(CAST({p!r} AS DOUBLE) * (n - 1)) AS BIGINT)"
            " + 1, n - 1)"
        )
        aggs.append(
            F.max(F.when(F.col("_r") - 1 == idx, F.col("lag_us"))).alias(
                f"_lo_{name}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("_r") - 1 == nxt, F.col("lag_us"))).alias(
                f"_hi_{name}"
            )
        )
        posts.append(
            F.expr(
                f"_lo_{name} + (_hi_{name} - _lo_{name}) * "
                f"(CAST({p!r} AS DOUBLE) * (n_converted - 1) "
                f"- floor(CAST({p!r} AS DOUBLE) * (n_converted - 1)))"
            ).alias(name)
        )
    out = j.agg(*aggs)
    return out.filter(F.col("n_converted").isNotNull()).select(
        "n_converted",
        F.expr("CAST(_slag AS DOUBLE) / n_converted").alias("mean_us"),
        *posts,
    )


def user_behavior_entropy(events: DataFrame) -> DataFrame:
    """Per-user behavioral diversity: Shannon entropy of the user's
    event-type distribution, normalized by ln of their distinct-type
    count — 0 = a single-behavior user, 1 = uniform across everything
    they do. The per-user counterpart of ev_markov_entropy's
    per-source transition entropy; segmentation pipelines bucket on
    it (explorers vs specialists).

    Determinism: the nano-nat integer-fold class (markov_entropy) —
    per-(user, type) counts are exact; each term's ln is
    1e9-quantized and the per-user sum accumulates in DECIMAL(38,0)
    (the markov_entropy widening — c·ln(c)·1e9 exceeds 2^63 for
    users past ~4e8 events, and non-ANSI BIGINT would wrap silently);
    the normalizing ln(k) is 1e9-quantized the same way, making the
    final ratio one fixed division of exact integers.
    Users with a single type emit entropy 0 with norm_entropy NULL
    (ln 1 = 0 denominator).

    Output: (user_id, n_events, n_types, entropy_nn, norm_entropy).

    Plan: two partial-agg groupBys ((user, type) then user) — nothing
    exceeds |users|x|types| rows.
    """
    c = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per = c.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(
            F.expr(
                "CAST(c AS DECIMAL(38,0)) * "
                "CAST(round(ln(CAST(c AS DOUBLE)) * 1000000000) "
                "AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("_sq"),
    )
    # H = ln(n) − (1/n)·Σ c·ln c, in exact nano-nats (DECIMAL(38,0))
    return per.select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(
            "CAST(round(ln(CAST(n_events AS DOUBLE)) * 1000000000) "
            "AS DECIMAL(38,0)) * CAST(n_events AS DECIMAL(38,0)) - _sq"
        ).alias("_h_nn_scaled"),
    ).select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(
            "CAST(_h_nn_scaled AS DOUBLE) / (1000000000.0 * n_events)"
        ).alias("entropy"),
        F.expr(
            "CASE WHEN n_types > 1 THEN "
            "CAST(_h_nn_scaled AS DOUBLE) / (CAST(n_events AS DOUBLE) "
            "* CAST(round(ln(CAST(n_types AS DOUBLE)) * 1000000000) "
            "AS BIGINT)) END"
        ).alias("norm_entropy"),
    )


# Fixed float finishes for the retention half-life fit, shared
# verbatim with the oracle. Moments are exact BIGINTs over the
# (age, nano-quantized ln pooled-rate) points.
RHL_DEN = (
    "(CAST(n_ages AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
)
# ELSE 0e0: n_ages >= 2 with distinct ages makes the denominator
# strictly positive, so the ELSE arm is unreachable in practice — it
# exists to keep compared outputs NULL-free by construction.
RHL_SLOPE = (
    f"CASE WHEN {RHL_DEN} > 0 THEN "
    f"(CAST(n_ages AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
    f"/ ({RHL_DEN} * 1000000000.0) ELSE 0e0 END"
)


def retention_halflife(events: DataFrame, max_weeks: int = 8) -> DataFrame:
    """Retention half-life — the one-number decay summary of the
    cohort triangle: pool the cohorts at each age (Σ retained / Σ
    cohort_size over ages 1..max_weeks), fit ln(pooled rate) against
    age by least squares, and report the exponential-decay half-life
    ln 2 / |slope| in weeks. The compact executive readout of
    ev_cohort_matrix; a rising half-life round-over-round is the
    retention-improvement signal.

    Determinism: pooled rates are exact-integer divisions; each
    ln(rate) quantizes to nano-units (BIGINT, the nano-nat class);
    the ≤ max_weeks regression points fold into five exact BIGINT
    moments; slope and half-life are single fixed float expressions
    (RHL_*, ln 2 as a Python literal). Zero-rate ages drop (no ln);
    a non-negative slope yields the -1.0 half-life sentinel (never
    NULL).

    Output: one row (n_ages, sx, sy, sxy, sxx, slope_per_week,
    halflife_weeks); empty when < 2 usable ages.

    Plan: cohort_matrix's rollup, one groupBy to ≤ max_weeks rows,
    one single-row moment fold — nothing beyond the triangle ever
    shuffles.
    """
    cm = cohort_matrix(events, max_weeks=max_weeks)
    pooled = (
        cm.filter(F.col("week_n") >= 1)
        .groupBy("week_n")
        .agg(
            F.sum("retained").cast("long").alias("_ret"),
            F.sum("cohort_size").cast("long").alias("_size"),
        )
        .filter((F.col("_ret") > 0) & (F.col("_size") > 0))
        .select(
            F.col("week_n").cast("long").alias("k"),
            F.expr(
                "CAST(round(ln(CAST(_ret AS DOUBLE) / _size) "
                "* 1000000000) AS BIGINT)"
            ).alias("yq"),
        )
    )
    g = pooled.agg(
        F.count(F.lit(1)).cast("long").alias("n_ages"),
        F.sum("k").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.expr("k * yq")).cast("long").alias("sxy"),
        F.sum(F.expr("k * k")).cast("long").alias("sxx"),
    ).filter(F.col("n_ages") >= 2)
    ln2 = repr(__import__("math").log(2.0))
    return g.select(
        "n_ages",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.expr(RHL_SLOPE).alias("slope_per_week"),
        # Non-decaying retention (slope >= 0) reports the -1.0
        # sentinel, never NULL (NULL-free compared-output policy).
        F.expr(
            f"CASE WHEN {RHL_SLOPE} < 0 THEN {ln2} / (-({RHL_SLOPE})) "
            f"ELSE -1e0 END"
        ).alias("halflife_weeks"),
    )


# Fixed float finish for the power analysis, shared verbatim with the
# oracle. z literals: 1.96 (two-sided 5%) + 0.8416 (80% power);
# (z_a + z_b)^2 is Python-evaluated so no engine adds the decimals.
PW_Z2 = repr((1.96 + 0.8416) ** 2)
PW_RATE = "(CAST(n_conv AS DOUBLE) / n_users)"
PW_MDE = f"(0.1 * {PW_RATE})"
# Degenerate base rates (0 or 1 — zero variance, no finite sample
# size) report the -1.0 sentinel, never NULL: compared outputs are
# NULL-free by harness policy (oracle_compare.assert_no_nulls).
PW_REQ_N = (
    f"CASE WHEN n_conv > 0 AND n_conv < n_users THEN "
    f"2.0 * {PW_Z2} * {PW_RATE} * (1.0 - {PW_RATE}) "
    f"/ ({PW_MDE} * {PW_MDE}) ELSE -1e0 END"
)


def ab_power_analysis(events: DataFrame) -> DataFrame:
    """A/B test power analysis per conversion surface — the third leg
    of the experimentation panel (ev_ab_conversion reads the result,
    ev_ab_srm guards the assignment, THIS one says whether the test
    was big enough to read at all): from each event_type's observed
    base rate, the per-variant sample size needed to detect a 10%
    relative lift at alpha = 0.05 (two-sided), power = 0.80:

        n = 2 (z_a + z_b)^2 p (1-p) / (0.1 p)^2

    Determinism: user/converter counts are exact integers; the rate,
    MDE and required n are one fixed float expression chain (PW_*,
    shared with the oracle) with (z_a + z_b)^2 as a Python-evaluated
    literal; degenerate rates (0 or 1) yield the -1.0 sentinel.

    Output: (event_type, n_users, n_conv, base_rate, mde_abs,
    required_n_per_variant).

    Plan: one per-user rollup, one conditional-count per type —
    nothing beyond |users| + |types| rows.
    """
    conv = (
        events.select("event_type", "user_id").distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conv"))
    )
    total = events.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    g = conv.crossJoin(F.broadcast(total))
    return g.select(
        "event_type",
        "n_users",
        "n_conv",
        F.expr(PW_RATE).alias("base_rate"),
        F.expr(PW_MDE).alias("mde_abs"),
        F.expr(PW_REQ_N).alias("required_n_per_variant"),
    )


KM_CENSOR_US = 7 * DAY_US  # right-censor users active in the last week


def survival_km(
    events: DataFrame, censor_us: int = KM_CENSOR_US
) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (Kaplan & Meier
    1958) — THE churn-analysis estimator: subject = user, lifetime =
    first→last event in whole days, right-censored for users still
    active within ``censor_us`` of the corpus end (they may merely not
    have churned *yet*). S(t) = Π_{t_j ≤ t} (1 − d_j / n_j) over death
    days, with censored users leaving the risk set without
    contributing a death — the number product dashboards draw as the
    retention curve without the cohort-matrix binning.

    Determinism: durations, death counts d_j, and risk-set sizes n_j
    are exact integers; each hazard's ln(1 − d/n) is 1e9-quantized to
    BIGINT so the cumulative sum is exact; S is ONE exp + round(·, 9)
    over the exact cumulative — the retention_halflife nano-nat
    convention. The d = n terminal day (risk set dies out) is handled
    explicitly: survival 0.0, no ln(0).

    Output: one row per death day —
    (duration_days, n_at_risk, n_deaths, survival), ascending.

    Plan / 100 TB: one per-user partial-agg rollup (|users| rows),
    one 1-row max broadcast, one groupBy to day-level (≤ observation
    window in DAYS — tiny), then ordered windows over that day table
    only. The unpartitioned windows are bounded by the day count,
    never by |users| or |events|.
    """
    per = events.groupBy("user_id").agg(
        F.min("ts").cast("long").alias("first_ts"),
        F.max("ts").cast("long").alias("last_ts"),
    )
    obs = per.agg(F.max("last_ts").alias("obs_end"))
    u = per.crossJoin(F.broadcast(obs)).select(
        F.expr(f"(last_ts - first_ts) DIV {DAY_US}").alias("duration_days"),
        F.expr(f"last_ts > obs_end - {int(censor_us)}").alias("_censored"),
    )
    day = u.groupBy("duration_days").agg(
        F.sum(F.when(~F.col("_censored"), 1).otherwise(0))
        .cast("long")
        .alias("n_deaths"),
        F.count(F.lit(1)).cast("long").alias("_m"),
    )
    from pyspark.sql import Window

    # Day-level table: ≤ observation-window days — the unpartitioned
    # windows are bounded and cheap by construction.
    asc = Window.orderBy("duration_days")
    sized = day.withColumn(
        "n_at_risk",
        F.sum("_m")
        .over(asc.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        .cast("long"),
    )
    hz = sized.withColumn(
        "_lnq",
        F.expr(
            "CASE WHEN n_deaths < n_at_risk THEN "
            "CAST(round(ln(1e0 - CAST(n_deaths AS DOUBLE) / n_at_risk) "
            "* 1000000000) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        ),
    )
    cum = hz.select(
        "duration_days",
        "n_at_risk",
        "n_deaths",
        F.sum("_lnq").over(asc).cast("long").alias("_cum"),
        F.max(F.expr("CASE WHEN n_deaths = n_at_risk THEN 1 ELSE 0 END"))
        .over(asc)
        .alias("_out"),
    )
    return cum.filter(F.col("n_deaths") > 0).select(
        "duration_days",
        "n_at_risk",
        "n_deaths",
        F.expr(
            "CASE WHEN _out = 1 THEN 0e0 ELSE "
            "round(exp(CAST(_cum AS DOUBLE) / 1000000000.0), 9) END"
        ).alias("survival"),
    )


def circadian_exprs() -> tuple[str, str]:
    """(Σc·cos, Σc·sin) expression bodies over the 24 pivoted hour
    counts _h0.._h23 — trig coefficients as shared Python literals so
    both engines fold the identical doubles in hour order."""
    import math

    # .17e scientific-notation literals: DOUBLE on BOTH engines (bare
    # decimal literals parse as DECIMAL on Spark — the quantized sums
    # would silently round at the literal scale).
    cos_t = " + ".join(
        f"_h{h} * {math.cos(2.0 * math.pi * h / 24.0):.17e}"
        for h in range(24)
    )
    sin_t = " + ".join(
        f"_h{h} * {math.sin(2.0 * math.pi * h / 24.0):.17e}"
        for h in range(24)
    )
    return f"({cos_t})", f"({sin_t})"


RAYLEIGH_CRIT = 2.995732273553991  # -ln(0.05): z above this rejects
# uniformity at p < .05 (large-n Rayleigh approximation)


def circadian_rhythm(events: DataFrame) -> DataFrame:
    """Per-user circadian concentration — how 24h-periodic a user's
    activity is: the mean resultant length R of the hour-of-day
    angles (circular statistics; Rayleigh 1880, Mardia 1972). R = 0
    is uniform around the clock (bots, distributed schedulers), R = 1
    a single-hour user (cron jobs, digest opens); z = n·R² is the
    Rayleigh uniformity statistic. The behavioral-biometric feature
    next to ev_user_entropy's what-they-do diversity: WHEN they do it.

    Determinism: per-(user, hour) counts are exact integers pivoted
    to 24 columns; Σc·cosθ and Σc·sinθ are ONE fixed 24-term
    expression each with trig coefficients as shared Python literals
    (:func:`circadian_exprs`); R, z and the flag are single fixed
    float expressions over them. The peak hour is an exact integer
    argmax with the smallest-hour tie-break.

    Output: (user_id, n_events, peak_hour, peak_share, r, rayleigh_z,
    circadian).

    Plan / 100 TB: one partial-agg groupBy straight to |users| rows —
    the 24 conditional sums combine map-side; no window, no join.
    """
    hour = F.expr("(ts div 3600000000) % 24")
    aggs = [
        F.sum(F.when(hour == h, 1).otherwise(0)).cast("long").alias(f"_h{h}")
        for h in range(24)
    ]
    g = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"), *aggs
    )
    cos_e, sin_e = circadian_exprs()
    peak_cnt = "GREATEST(" + ", ".join(f"_h{h}" for h in range(24)) + ")"
    peak_hour = (
        "CASE "
        + " ".join(
            f"WHEN _h{h} = {peak_cnt} THEN {h}" for h in range(24)
        )
        + " END"
    )
    r = f"sqrt({cos_e} * {cos_e} + {sin_e} * {sin_e}) / n_events"
    return g.select(
        "user_id",
        "n_events",
        F.expr(f"CAST({peak_hour} AS BIGINT)").alias("peak_hour"),
        F.expr(
            f"CAST({peak_cnt} AS DOUBLE) / n_events"
        ).alias("peak_share"),
        F.expr(r).alias("r"),
        F.expr(f"n_events * ({r}) * ({r})").alias("rayleigh_z"),
        F.expr(
            f"n_events * ({r}) * ({r}) > {RAYLEIGH_CRIT:.17e}"
        ).alias("circadian"),
    )


def markov_stationary(events: DataFrame, n_iter: int = 5) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where
    the user flow settles: π = πP after ``n_iter`` damped power-
    iteration rounds over the transition counts that
    :func:`markov_entropy` profiles. The equilibrium share is the
    flow-weighted importance of each surface (screen-time forecast),
    distinct from raw event frequency whenever transitions are
    asymmetric; damping 0.85 (the PageRank teleport) keeps periodic /
    absorbing chains ergodic.

    Determinism (the pagerank integer-mass contract): π is BIGINT
    mass scaled 1e9; each edge moves (π_i div n_out_i)·c_ij — an
    exact integer ≤ π_i, so receive sums are exact BIGINTs bounded by
    the total mass (no overflow at ANY corpus size); dangling types
    (no outgoing transition) redistribute uniformly; the per-round
    damping expression is the one shared float op.

    Output: (event_type, n_out, pi); π sums to ~1 up to floor
    leakage.

    Scale: the transition table is |types|² rows — trivially tiny —
    but it derives from ONE user-keyed window pass over raw events
    (the markov_entropy shape), which is the only data-sized stage.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .filter(F.col("event_type").isNotNull())
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("src"),
        F.col("next_type").alias("dst"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    counts = pin(counts)
    verts = pin(
        events.select(F.col("event_type").alias("t"))
        .filter(F.col("t").isNotNull())
        .distinct()
    )
    deg = counts.groupBy("src").agg(
        F.sum("c").cast("long").alias("n_out")
    )
    nv = verts.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    ranks = verts.crossJoin(F.broadcast(nv)).select(
        "t",
        F.expr("CAST(round(1e9 / CAST(_n AS DOUBLE)) AS BIGINT)").alias(
            "rank_i"
        ),
    )
    for _ in range(int(n_iter)):
        ranks_r = ranks.select(F.col("t").alias("_rt"), "rank_i")
        contrib = (
            counts.join(ranks_r, F.col("src") == F.col("_rt"))
            .join(deg, "src")
            .select(
                F.col("dst").alias("t"),
                F.expr("(rank_i div n_out) * c").alias("ci"),
            )
        )
        recv = contrib.groupBy("t").agg(
            F.sum("ci").cast("long").alias("recv_i")
        )
        dang = (
            ranks.join(
                deg.select(F.col("src").alias("t")), "t", "left_anti"
            )
            .agg(
                F.coalesce(F.sum("rank_i"), F.lit(0))
                .cast("long")
                .alias("dm_i")
            )
        )
        ranks = (
            verts.crossJoin(F.broadcast(nv))
            .join(recv, "t", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "t",
                F.expr(
                    "CAST(round((1e0 - 8.5e-1) * 1e9 / CAST(_n AS DOUBLE)"
                    " + 8.5e-1 * (CAST(dm_i AS DOUBLE) / CAST(_n AS DOUBLE)"
                    " + CAST(COALESCE(recv_i, 0) AS DOUBLE))) AS BIGINT)"
                ).alias("rank_i"),
            )
        )
        ranks = pin(ranks)
    return (
        ranks.join(deg.select(F.col("src").alias("t"), "n_out"), "t", "left")
        .select(
            F.col("t").alias("event_type"),
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            F.expr("CAST(rank_i AS DOUBLE) / 1e9").alias("pi"),
        )
    )


def pareto_alpha(events: DataFrame, xmin: int = 1) -> DataFrame:
    """Power-law (Pareto) exponent of the per-user activity
    distribution — the continuous-MLE estimator (Clauset, Shalizi &
    Newman 2009): α = 1 + n / Σ ln(x_i / xmin) over users with
    x_i ≥ xmin events. The one-number heavy-tail summary behind
    ev_gini's concentration and ev_key_skew's hot keys: α near 2 =
    extreme whale dominance, α > 3 ≈ light tail.

    Determinism: per-user counts exact; each ln(x/xmin) is
    1e9-quantized BIGINT, summed in DECIMAL(38,0) (|users| × 3e10
    outgrows BIGINT at ~3e8 users); α is one fixed division chain.
    All-minimum corpora (Σ = 0) yield NULL explicitly.

    Output: one row (n_users, xmin, alpha).

    Plan: one partial-agg groupBy to |users| rows, one 1-row reduce.
    """
    x0 = int(xmin)
    per = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    ).filter(F.col("x") >= x0)
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(
            F.expr(
                f"CAST(CAST(round(ln(CAST(x AS DOUBLE) / {x0}) "
                "* 1000000000) AS BIGINT) AS DECIMAL(38,0))"
            )
        ).alias("_slnq"),
    )
    return agg.select(
        "n_users",
        F.lit(x0).cast("long").alias("xmin"),
        F.expr(
            "CASE WHEN _slnq > 0 THEN 1e0 + CAST(n_users AS DOUBLE) "
            "/ (CAST(_slnq AS DOUBLE) / 1000000000.0) END"
        ).alias("alpha"),
    )


def new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily active users split into NEW (first-ever event falls on
    that day) vs RETURNING — the growth-accounting view layered on
    daily_active: DAU can stay flat while composition flips from
    acquisition to retention, and this is the split that shows it.

    Determinism: first-event day per user is an exact MIN; all counts
    exact; the returning share is one fixed division.

    Output: (day, active_users, new_users, returning_users,
    returning_share), day = epoch-µs floor.

    Plan: one (day, user) dedup groupBy, one per-user MIN (both
    partial-agg), an equi-join on (user, day) that only tags each
    user-day, then a partial-agg day rollup — nothing beyond
    |user-days| rows shuffles.
    """
    ud = events.select(
        F.expr(f"(ts div {DAY_US}) * {DAY_US}").alias("day"),
        "user_id",
    ).distinct()
    firsts = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    tagged = ud.join(firsts, "user_id").select(
        "day",
        F.expr("CASE WHEN day = first_day THEN 1 ELSE 0 END").alias("_new"),
    )
    g = tagged.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("active_users"),
        F.sum("_new").cast("long").alias("new_users"),
    )
    return g.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users"))
        .cast("long")
        .alias("returning_users"),
        F.expr(
            "CAST(active_users - new_users AS DOUBLE) / active_users"
        ).alias("returning_share"),
    )


MSPRT_TAU2 = "1e-2"   # mixture variance τ² (effect-size scale 0.1)
MSPRT_ALPHA = "5e-2"


def ab_sequential_msprt(
    events: DataFrame, conversion: str = "purchase"
) -> DataFrame:
    """Always-valid sequential A/B monitoring (the mixture SPRT of
    Robbins 1970, as deployed for "anytime" experiment dashboards —
    Johari et al. 2017): a daily Λ_t over the CUMULATIVE two-
    proportion difference, whose reciprocal running minimum is an
    always-valid p-value — peeking every day never inflates the false
    positive rate, the failure mode of re-running ev_ab_conversion's
    fixed-horizon z test daily.

        Z_t = p̂_A − p̂_B,  V_t = p̂(1−p̂)(1/n_A + 1/n_B)
        ln Λ_t = ½·ln(V/(V+τ²)) + Z²τ² / (2V(V+τ²))
        p_t = min over s ≤ t of min(1, exp(−ln Λ_s))

    Determinism: users enter at their FIRST event day and convert at
    their FIRST conversion day (exact MINs, pmod variant); cumulative
    counts are exact integer sums over the DAY-level table; Λ is one
    fixed float expression (τ², α as shared e-notation literals); the
    running minimum is a window MIN (comparisons only, no float
    accumulation). Degenerate days (empty arm / pooled rate 0 or 1)
    emit NULL Λ and p 1.0 explicitly.

    Output: (day, n_a, conv_a, n_b, conv_b, ln_lambda_t,
    p_always_valid, rejected), ascending by day.

    Plan / 100 TB: two per-user partial-agg MINs, then EVERYTHING
    runs on the day-level table (≤ observation days — the survival_km
    discipline); the cumulative non-equi join is |days|² on that tiny
    table, never on users.
    """
    per = events.groupBy("user_id").agg(
        F.min(F.expr(f"(ts div {DAY_US})")).cast("long").alias("fd"),
        F.min(
            F.when(
                F.col("event_type") == conversion,
                F.expr(f"(ts div {DAY_US})"),
            )
        ).cast("long").alias("cd"),
    ).select(
        F.pmod(F.col("user_id"), F.lit(2)).alias("variant"), "fd", "cd"
    )
    days = events.select(
        F.expr(f"(ts div {DAY_US})").cast("long").alias("day")
    ).distinct()
    enter = per.groupBy("variant", "fd").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    conv = (
        per.filter(F.col("cd").isNotNull())
        .groupBy("variant", "cd")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    def cum(tbl, key, val, out):
        j = days.join(
            F.broadcast(tbl), F.col(key) <= F.col("day"), "left"
        )
        return j.groupBy("day", "variant").agg(
            F.coalesce(F.sum(val), F.lit(0)).cast("long").alias(out)
        ).filter(F.col("variant").isNotNull())

    n_tbl = cum(enter, "fd", "m", "n")
    c_tbl = cum(conv, "cd", "c", "c")
    both = n_tbl.join(c_tbl, ["day", "variant"], "left").select(
        "day",
        "variant",
        "n",
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    )
    g = both.groupBy("day").agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("conv_b"),
    ).select(
        "day",
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in ["n_a", "conv_a", "n_b", "conv_b"]
        ],
    )
    zz = (
        "(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)"
    )
    vv = (
        "((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) "
        "* (1e0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) "
        "* (1e0 / n_a + 1e0 / n_b))"
    )
    # log-space Λ: ln Λ can reach tens of thousands on decisive
    # experiments; exp(+big) overflows (DuckDB errors), exp(−big)
    # underflows to a clean 0.0 on both engines — so only the p-value
    # path exponentiates, and only with a non-positive argument.
    lnlam = (
        f"(5e-1 * ln({vv} / ({vv} + {MSPRT_TAU2})) "
        f"+ {zz} * {zz} * {MSPRT_TAU2} "
        f"/ (2e0 * {vv} * ({vv} + {MSPRT_TAU2})))"
    )
    guard = (
        "n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0 "
        "AND conv_a + conv_b < n_a + n_b"
    )
    # Cross-engine determinism: ln()/exp() are not correctly rounded,
    # so the raw lnΛ differs in the last ULP between Spark's JVM and
    # other engines' libm. Quantize lnΛ to 9 dp first (the codebase's
    # nano-nat rule), then exponentiate the *quantized* value and
    # quantize the p again — both engines see bit-identical arguments
    # and compare 9-dp outputs. Guard-false days report lnΛ = 0
    # ("no evidence yet"), never NULL (compared outputs are NULL-free
    # by harness policy).
    scored = g.select(
        "day",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr(
            f"CASE WHEN {guard} THEN round({lnlam}, 9) "
            f"ELSE 0e0 END"
        ).alias("ln_lambda_t"),
    ).withColumn(
        "_p_day",
        F.expr(
            "CASE WHEN ln_lambda_t > 0e0 "
            "THEN round(exp(-ln_lambda_t), 9) ELSE 1e0 END"
        ),
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # day-level table: the unpartitioned window is bounded by the
    # observation-day count
    return scored.withColumn(
        "p_always_valid", F.min("_p_day").over(w)
    ).select(
        "day",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        "ln_lambda_t",
        "p_always_valid",
        F.expr(f"p_always_valid < {MSPRT_ALPHA}").alias("rejected"),
    )


def funnel_windowed(
    events: DataFrame,
    first_step: str,
    second_step: str,
    window_us: int,
) -> DataFrame:
    """Attribution-windowed two-step funnel: conversions only count
    when the second step lands within ``window_us`` of the user's
    FIRST first-step event — the industry-standard attribution cut
    (a purchase six months after the signup email is not that email's
    conversion). :func:`funnel` without the deadline overstates
    conversion on long-horizon data; the gap between the two numbers
    IS the slow-burn cohort.

    Determinism: per-user firsts are exact MINs; the windowed
    earliest second step is a conditional MIN under an integer bound;
    the rates are fixed divisions of exact counts.

    Output: one row (n_first_users, n_converted, n_converted_window,
    window_rate, capture_share) — capture_share = windowed / all-time
    conversions (NULL when nobody converts).

    Plan: the funnel shape — two filtered partial-agg groupBys and an
    equi-join on user_id; no window functions at all.
    """
    w_us = int(window_us)
    firsts = (
        events.filter(F.col("event_type") == first_step)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    sec = (
        events.filter(F.col("event_type") == second_step)
        .select("user_id", F.col("ts").alias("ts2"))
        .join(firsts, "user_id")
        .filter(F.col("ts2") > F.col("t1"))
        .groupBy("user_id")
        .agg(
            F.min("ts2").alias("t2"),
            F.max("t1").alias("t1"),
        )
    )
    agg = sec.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.sum(
            F.when(F.col("t2") - F.col("t1") <= w_us, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_converted_window"),
    )
    nf = firsts.agg(F.count(F.lit(1)).cast("long").alias("n_first_users"))
    return agg.crossJoin(F.broadcast(nf)).select(
        "n_first_users",
        F.coalesce("n_converted", F.lit(0)).cast("long").alias(
            "n_converted"
        ),
        F.coalesce("n_converted_window", F.lit(0)).cast("long").alias(
            "n_converted_window"
        ),
        F.expr(
            "CASE WHEN n_first_users > 0 THEN "
            "CAST(n_converted_window AS DOUBLE) / n_first_users END"
        ).alias("window_rate"),
        F.expr(
            "CASE WHEN n_converted > 0 THEN "
            "CAST(n_converted_window AS DOUBLE) / n_converted END"
        ).alias("capture_share"),
    )


def lorenz_deciles(events: DataFrame) -> DataFrame:
    """Lorenz curve of user activity in deciles — the concentration
    readout behind ev_gini's single number: users ranked by event
    count (ascending), split into ten equal-rank buckets, each with
    its share of total events and the cumulative share (the Lorenz
    ordinate). A bottom-decile share near zero with a top-decile share
    near one is the power-user concentration every growth team plots.

    Determinism: per-user counts are exact integers; the rank is the
    two-phase :func:`~pennsieve_streaming_spark.util.global_rank`
    under the TOTAL order (count, user_id); decile assignment and both
    shares are fixed integer arithmetic + one division rounded to 9 dp
    (the cumulative sum runs over ten exact BIGINT rows).

    Output: (decile 1..10, n_users, n_events, event_share, cum_share).

    Plan / 100 TB: one per-user rollup, the two-phase rank (no
    single-task window), one 10-row rollup + tiny cumsum window.
    """
    from pennsieve_streaming_spark.util import global_rank

    per = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum("cnt").cast("long").alias("ne"),
    )
    ranked = global_rank(per, ("cnt", "user_id"), out_col="_r")
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr("((_r - 1) * 10) div nu + 1").cast("long").alias(
                "decile"
            ),
            "cnt",
            "ne",
        )
        .groupBy("decile", "ne")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("cnt").cast("long").alias("n_events"),
        )
    )
    from pyspark.sql import Window

    # ten rows: the unpartitioned window is bounded by the decile count
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dec.withColumn("_cum", F.sum("n_events").over(w).cast("long"))
        .select(
            "decile",
            "n_users",
            "n_events",
            F.expr(
                "round(CAST(n_events AS DOUBLE) / ne, 9)"
            ).alias("event_share"),
            F.expr("round(CAST(_cum AS DOUBLE) / ne, 9)").alias(
                "cum_share"
            ),
        )
    )


def burstiness(events: DataFrame) -> DataFrame:
    """Goh-Barabási burstiness per event type: B = (σ − μ)/(σ + μ)
    over the pooled per-user inter-arrival gaps of that type — B → −1
    for clockwork regularity, 0 for a Poisson process, → +1 for
    extreme burstiness. The one-number complement of
    ev_interarrival_ks (which tests the exponential shape) and
    ev_dispersion (count overdispersion).

    Determinism: gaps are exact integer microseconds floored to whole
    seconds (the hrv rule — second-floored squares cannot overflow);
    moments are exact BIGINT / DECIMAL(38,0) sums; B and the mean are
    fixed sqrt/division finishes rounded to 9 dp (degenerate σ + μ = 0
    reports the 0.0 sentinel).

    Output: (event_type, n_gaps, mean_gap_s, burstiness).

    Plan / 100 TB: one (user, type) sort window for the lag, one
    partial-agg groupBy to |types| rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = (
        events.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("ts").over(w).alias("_p"),
        )
        .filter(F.col("_p").isNotNull())
        .select(
            "event_type",
            F.expr("(ts - _p) div 1000000").alias("gs"),
        )
    )
    g = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gs").cast("long").alias("sg"),
        F.sum(F.expr("CAST(gs AS DECIMAL(38,0)) * gs")).alias("sgg"),
    )
    var = (
        "(CAST(sgg AS DOUBLE) / n_gaps "
        "- (CAST(sg AS DOUBLE) / n_gaps) * (CAST(sg AS DOUBLE) / n_gaps))"
    )
    mu = "(CAST(sg AS DOUBLE) / n_gaps)"
    return g.select(
        "event_type",
        "n_gaps",
        F.expr(f"round({mu}, 9)").alias("mean_gap_s"),
        F.expr(
            f"CASE WHEN {var} > 0e0 AND sqrt({var}) + {mu} > 0e0 "
            f"THEN round((sqrt({var}) - {mu}) / (sqrt({var}) + {mu}), 9) "
            f"ELSE 0e0 END"
        ).alias("burstiness"),
    )


def type_pmi(events: DataFrame) -> DataFrame:
    """Pointwise mutual information between event-type pairs at the
    user level: PMI(a,b) = ln(N·n_ab / (n_a·n_b)) over users who
    performed each type — positive = the behaviors co-occur (bundle
    them), negative = they repel (distinct segments). The pairwise
    association view beside ev_assoc_rules' directional confidence.

    Determinism: all counts are exact integers; each ln is 1e9-
    quantized to BIGINT (the nano-nat class) so the four-term PMI sum
    is exact, finished by one /1e9 division.

    Output: (type_a, type_b, n_a, n_b, n_both, pmi) for type_a <
    type_b with n_both > 0.

    Plan / 100 TB: one distinct to user-type rows, a self equi-join on
    user_id (fan-out bounded by the type-vocabulary size per user),
    partial-agg rollups; the type marginals broadcast.
    """
    from pennsieve_streaming_spark.util import pin

    # pinned (optimization r11): the assoc_rules rule — type
    # marginals, the user total, and both self-join legs reference
    # the distinct user-type table. Checkpoint flavor kept: the
    # assoc_rules A/B (same table shape) rejected the columnar cache
    # (OPTIMIZATION_r12.md §2.2).
    ut = pin(events.select("user_id", "event_type").distinct())
    nt = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    nu = ut.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("nu")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    LNQ = "CAST(round(ln(CAST({x} AS DOUBLE)) * 1000000000) AS BIGINT)"
    j = (
        both.join(
            F.broadcast(nt.select(F.col("event_type").alias("type_a"),
                                  F.col("n_t").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(nt.select(F.col("event_type").alias("type_b"),
                                  F.col("n_t").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(nu))
    )
    pmi_q = (
        f"({LNQ.format(x='n_both')} + {LNQ.format(x='nu')} "
        f"- {LNQ.format(x='n_a')} - {LNQ.format(x='n_b')})"
    )
    return j.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_both",
        F.expr(f"CAST({pmi_q} AS DOUBLE) / 1000000000").alias("pmi"),
    )


DOW_CHI2_CRIT = "12.592"  # chi-square(6), alpha = 0.05


def dow_chi2(events: DataFrame) -> DataFrame:
    """Day-of-week uniformity chi-square per event type: O_d counts
    against the uniform E = n/7, χ² = Σ(7·O_d − n)²/(7·n) — flags
    weekly seasonality per surface (the categorical cousin of
    ts_hourly_profile). dow is computed by pure integer arithmetic —
    (epoch_days + 4) % 7, anchored at 1970-01-01 = Thursday — so no
    engine date-function semantics are involved.

    Determinism: exact integer counts (zero-filled over the 7-day
    grid); χ² is one fixed expression of exact integers rounded to
    9 dp; the flag compares against the literal critical value.

    Output: (event_type, n_events, chi2, uniform BOOLEAN).

    Plan / 100 TB: one partial-agg groupBy to |types|×7 rows, a
    broadcast densify, one 7-row fold per type.
    """
    d = events.select(
        "event_type",
        F.expr(f"((ts div {DAY_US}) + 4) % 7").cast("long").alias("dow"),
    ).groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    types = d.select("event_type").distinct()
    spark = events.sparkSession
    dows = spark.range(7).select(F.col("id").cast("long").alias("dow"))
    dense = (
        types.crossJoin(F.broadcast(dows))
        .join(d, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        )
    )
    g = dense.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("n_events"),
        F.sum(F.expr("CAST(o AS DECIMAL(38,0)) * o")).alias("_oo"),
    )
    # Σ(7O−n)² = 49·ΣO² − 14n·ΣO + 7n² = 49·ΣO² − 7n² (ΣO = n)
    chi2 = (
        "((49e0 * CAST(_oo AS DOUBLE) - 7e0 * CAST(n_events AS DOUBLE) "
        "* n_events) / (7e0 * n_events))"
    )
    return g.select(
        "event_type",
        "n_events",
        F.expr(
            f"CASE WHEN n_events > 0 THEN round({chi2}, 9) "
            f"ELSE 0e0 END"
        ).alias("chi2"),
        F.expr(
            f"CASE WHEN n_events > 0 THEN round({chi2}, 9) "
            f"ELSE 0e0 END <= {DOW_CHI2_CRIT}"
        ).alias("uniform"),
    )


def cohort_ltv(events: DataFrame, max_weeks: int = 8) -> DataFrame:
    """Cumulative events per user by cohort age — the LTV curve the
    cohort_matrix's retention triangle feeds: for each first-active
    week (cohort) and age 0..``max_weeks`` weeks, the running total of
    events produced by that cohort divided by its size. Flattening
    curves = engagement decay; the gap between cohorts = product
    change impact.

    Determinism: all counts exact integers; the age cumsum runs over
    ≤ max_weeks+1 exact rows per cohort; ltv is one division rounded
    to 9 dp.

    Output: (cohort_week, age_week, cohort_size, cum_events, ltv).

    Plan / 100 TB: per-user first-week rollup, an equi-join back on
    user_id, a |cohorts|×(max_weeks+1) densified rollup + tiny
    per-cohort window.
    """
    from pyspark.sql import Window

    uw = events.select(
        "user_id",
        F.expr(f"(ts div {WEEK_US}) * {WEEK_US}").alias("week"),
    )
    first = uw.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    aged = (
        uw.join(first, "user_id")
        .select(
            "cohort_week",
            F.expr(f"(week - cohort_week) div {WEEK_US}").alias(
                "age_week"
            ),
        )
        .filter(F.col("age_week") <= max_weeks)
        .groupBy("cohort_week", "age_week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
    )
    spark = events.sparkSession
    ages = spark.range(int(max_weeks) + 1).select(
        F.col("id").cast("long").alias("age_week")
    )
    dense = (
        sizes.crossJoin(F.broadcast(ages))
        .join(aged, ["cohort_week", "age_week"], "left")
        .select(
            "cohort_week",
            "age_week",
            "cohort_size",
            F.coalesce("n_ev", F.lit(0)).cast("long").alias("n_ev"),
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("age_week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dense.withColumn("cum_events", F.sum("n_ev").over(w).cast("long"))
        .select(
            "cohort_week",
            "age_week",
            "cohort_size",
            "cum_events",
            F.expr(
                "round(CAST(cum_events AS DOUBLE) / cohort_size, 9)"
            ).alias("ltv"),
        )
    )


def growth_accounting(events: DataFrame) -> DataFrame:
    """Weekly growth accounting (the Social-Capital/a16z standard
    decomposition): every week's active users split into NEW (first
    week), RETAINED (also active last week), RESURRECTED (active
    before, dormant last week), plus CHURNED (active last week, absent
    now) — the four flows whose balance IS net growth. The
    transition-flow generalization of ev_new_vs_returning's daily
    binary split.

    Determinism: pure exact integer counts over the distinct
    user-week lattice; quick ratio is one fixed division rounded to
    9 dp (churn 0 → the 0.0 sentinel).

    Output: (week, n_active, n_new, n_retained, n_resurrected,
    n_churned, quick_ratio) for weeks after the first.

    Plan / 100 TB: one distinct to user-weeks, a per-user MIN rollup,
    a self full-outer equi-join on (user, week) against the
    week-shifted copy — all key-partitioned, nothing wider than the
    user-week lattice.
    """
    uw = events.select(
        "user_id",
        F.expr(f"(ts div {WEEK_US}) * {WEEK_US}").alias("week"),
    ).distinct()
    first = uw.groupBy("user_id").agg(
        F.min("week").alias("_first")
    )
    now = uw.select("user_id", "week", F.lit(1).alias("_now"))
    prev = uw.select(
        "user_id",
        (F.col("week") + WEEK_US).alias("week"),
        F.lit(1).alias("_prev"),
    )
    st = (
        now.join(prev, ["user_id", "week"], "full_outer")
        .join(first, "user_id")
        .select(
            "week",
            F.coalesce("_now", F.lit(0)).alias("a"),
            F.coalesce("_prev", F.lit(0)).alias("p"),
            "_first",
        )
    )
    g = st.groupBy("week").agg(
        F.sum("a").cast("long").alias("n_active"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("week") == F.col("_first")), 1)
            .otherwise(0)
        ).cast("long").alias("n_new"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("p") == 1), 1).otherwise(0)
        ).cast("long").alias("n_retained"),
        F.sum(
            F.when(
                (F.col("a") == 1)
                & (F.col("p") == 0)
                & (F.col("week") > F.col("_first")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_resurrected"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("p") == 1), 1).otherwise(0)
        ).cast("long").alias("n_churned"),
    )
    # drop the week AFTER the last active week (it exists only as
    # shifted rows) unless someone is active there; keep weeks with
    # n_active > 0 OR churn — standard accounting keeps both
    return g.select(
        F.col("week").cast("long").alias("week"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_churned",
        F.expr(
            "CASE WHEN n_churned > 0 THEN "
            "round(CAST(n_new + n_resurrected AS DOUBLE) / n_churned, 9) "
            "ELSE 0e0 END"
        ).alias("quick_ratio"),
    )



# Mann-Whitney shared expression text (imported by the oracle):
# 2U_a = R1_2 − n_a(n_a+1); E[2U] = n_a·n_b; tie-corrected variance.
MW_VAR_U = (
    "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12e0) "
    "* (CAST(n_a + n_b + 1 AS DOUBLE) "
    "- CAST(tie3 AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) "
    "* CAST(n_a + n_b - 1 AS DOUBLE)))"
)
MW_Z = (
    f"CASE WHEN {MW_VAR_U} <= 0e0 THEN 0e0 ELSE "
    f"round((CAST(r1_2 - n_a * (n_a + 1) AS DOUBLE) "
    f"- CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) "
    f"/ (2e0 * sqrt({MW_VAR_U})), 9) END"
)


def mann_whitney(events: DataFrame, quant: int = 100) -> DataFrame:
    """Mann-Whitney U rank-sum test between the ``value`` distributions
    of every event-type pair (Mann & Whitney 1947) — the nonparametric
    A/B comparison that doesn't assume normal values, beside
    ev_interarrival_ks (shape) and ev_ab_conversion (proportions).

    Determinism — exact half-unit ranks to one fixed finish: values
    quantize to exact integers; within each pair's pooled sample the
    tied-average rank is carried as the exact integer 2·rank =
    2·rank_min + (t−1), so the rank sum R1 and U statistic live in
    exact BIGINTs; the tie-corrected variance and z are ONE fixed
    expression over exact counts, rounded to 9 dp (no continuity
    correction — documented contract). Degenerate pairs (all values
    tied, var = 0) report the 0.0 sentinel.

    Output: (type_a, type_b, n_a, n_b, u2, z, significant) for
    type_a < type_b, with u2 = 2·U_a exact and |z| > 1.96 the 5%
    two-sided flag.

    Plan / 100 TB: events fan out ×(|types|−1) pair memberships (a
    broadcast join against the tiny type-pair table), one rank window
    per pair partition, partial-agg groupBys — no quadratic blowup;
    |types| is a vocabulary, not a data scale.
    """
    from pyspark.sql import Window

    from pennsieve_streaming_spark.util import pin

    q = int(quant)
    ev = events.select(
        "event_type",
        F.expr(f"CAST(round(value * {q}) AS BIGINT)").alias("vq"),
    )
    # pin the type vocabulary (optimization r12): the pair table's
    # self-join referenced types.distinct() twice, and each leg
    # replayed a full events scan + distinct shuffle. |types| is a
    # vocabulary — provably small, the pin() class.
    types = pin(ev.select("event_type").distinct())
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    # membership: each event joins every pair it belongs to (either
    # side), exactly once — the tie correction folds into the same
    # windowed pass (below), so this table has a single plan reference
    # and needs no materialization (ADVICE r11: it is ~2x|events| rows,
    # the wrong size for a checkpoint).
    m = ev.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("type_a"))
        | (F.col("event_type") == F.col("type_b")),
    ).select(
        "type_a",
        "type_b",
        "vq",
        (F.col("event_type") == F.col("type_a")).alias("is_a"),
    )
    w = Window.partitionBy("type_a", "type_b").orderBy("vq")
    ranked = m.withColumn("_rmin", F.rank().over(w)).withColumn(
        "_t",
        F.count(F.lit(1)).over(
            Window.partitionBy("type_a", "type_b", "vq")
        ),
    )
    # tie3 = Σ over distinct vq of (t³ − t). Each vq group contributes
    # t rows, every one carrying _t = t, so summing (_t² − 1) per ROW
    # gives t·(t² − 1) = t³ − t per group — the same exact integer,
    # with no second pass over the pair-membership table and no join.
    # DECIMAL(38,0) fold: _t² overflows int64 for a tie group past
    # ~3.03e9 rows; same discipline as the sxx/sxy/syy moment sums
    # elsewhere in this file. Only consumed via CAST(tie3 AS DOUBLE)
    # in MW_VAR_U, so the wider type never reaches the output schema.
    j = ranked.groupBy("type_a", "type_b").agg(
        F.sum(F.expr("CASE WHEN is_a THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_a"),
        F.sum(F.expr("CASE WHEN is_a THEN 0 ELSE 1 END"))
        .cast("long")
        .alias("n_b"),
        F.sum(
            F.expr(
                "CASE WHEN is_a THEN 2 * _rmin + (_t - 1) ELSE 0 END"
            )
        )
        .cast("long")
        .alias("r1_2"),
        F.sum(F.expr("CAST(_t AS DECIMAL(38,0)) * _t - 1"))
        .cast("decimal(38,0)")
        .alias("tie3"),
    )
    return j.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.expr("r1_2 - n_a * (n_a + 1)").cast("long").alias("u2"),
        F.expr(MW_Z).alias("z"),
        F.expr(f"abs({MW_Z}) > 1.959963985e0").alias("significant"),
    )



SIMPSON_LAMBDA = (
    "CASE WHEN n_events > 1 THEN "
    "round(CAST(num AS DOUBLE) / (CAST(n_events AS DOUBLE) "
    "* CAST(n_events - 1 AS DOUBLE)), 9) ELSE 0e0 END"
)


def simpson_diversity(events: DataFrame) -> DataFrame:
    """Per-user Simpson concentration over event types: λ =
    Σ nᵢ(nᵢ−1) / (N(N−1)) — the probability two of the user's events
    (drawn without replacement) share a type. 1−λ is the Gini-Simpson
    diversity; the abundance-weighted complement of ev_user_entropy's
    Shannon view (Simpson 1949 — dominance-sensitive where entropy is
    rarity-sensitive).

    Determinism: all counts exact; λ and top_share are single fixed
    divisions of exact BIGINTs rounded to 9 dp. Single-event users
    (N < 2 — λ undefined) report the 0.0 sentinel on both ratios'
    denominators guarded exactly.

    Output: (user_id, n_events, n_types, simpson, gini_simpson,
    top_share).

    Plan / 100 TB: one partial-agg groupBy (user, type), one groupBy
    user — the ev_user_entropy shape; no joins, no windows.
    """
    ut = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    g = ut.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.expr("c * (c - 1)")).cast("long").alias("num"),
        F.max("c").cast("long").alias("top_c"),
    )
    lam = SIMPSON_LAMBDA
    return g.select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(lam).alias("simpson"),
        F.expr(
            f"CASE WHEN n_events > 1 THEN round(1e0 - ({lam}), 9) "
            f"ELSE 0e0 END"
        ).alias("gini_simpson"),
        F.expr(
            "round(CAST(top_c AS DOUBLE) / CAST(n_events AS DOUBLE), 9)"
        ).alias("top_share"),
    )


# CUPED shared expression text (imported by the oracle). All inputs
# are exact per-variant moments; every finish is a fixed double tree.
CUPED_THETA = (
    "coalesce((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
    "/ nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0), 0e0)"
)
# per-variant adjusted variance: var(y) − 2θ·cov(x,y) + θ²·var(x),
# over columns (n?, sx?, sy?, sxx?, syy?, sxy?) suffixed a/b
_CUPED_VAR = (
    "((CAST(syy{v} AS DOUBLE) / n{v} "
    "- (CAST(sy{v} AS DOUBLE) / n{v}) * (CAST(sy{v} AS DOUBLE) / n{v})) "
    "- 2e0 * theta * (CAST(sxy{v} AS DOUBLE) / n{v} "
    "- (CAST(sx{v} AS DOUBLE) / n{v}) * (CAST(sy{v} AS DOUBLE) / n{v})) "
    "+ theta * theta * (CAST(sxx{v} AS DOUBLE) / n{v} "
    "- (CAST(sx{v} AS DOUBLE) / n{v}) * (CAST(sx{v} AS DOUBLE) / n{v})))"
)
CUPED_VAR_A = _CUPED_VAR.format(v="a")
CUPED_VAR_B = _CUPED_VAR.format(v="b")
CUPED_DIFF_RAW = (
    "(CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb)"
)
CUPED_DIFF_ADJ = (
    f"({CUPED_DIFF_RAW} - theta * "
    "(CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb))"
)
CUPED_Z = (
    f"CASE WHEN {CUPED_VAR_A} / na + {CUPED_VAR_B} / nb > 0e0 THEN "
    f"round({CUPED_DIFF_ADJ} / sqrt({CUPED_VAR_A} / na "
    f"+ {CUPED_VAR_B} / nb), 9) ELSE 0e0 END"
)


def ab_cuped(
    events: DataFrame, conversion: str = "purchase", quant: int = 100
) -> DataFrame:
    """CUPED-adjusted A/B comparison (Deng, Xu, Kohavi & Walker 2013):
    the post-period per-user conversion value, variance-reduced by
    the PRE-period activity covariate — the standard trick that cuts
    experiment runtimes 30-50% by removing between-user variance the
    treatment can't have caused. Completes the experimentation suite
    (conversion z, SRM, power, sequential) with the estimator
    production platforms actually ship.

    Period split: the data midpoint (min_ts + max_ts) / 2 — exact
    integer, deterministic. Covariate x = the user's PRE-period event
    count; metric y = the user's POST-period summed ``conversion``
    value (quantized); variant = user_id % 2 (the ab_conversion
    bucket rule). θ fits on the POOLED covariance (both variants —
    the unbiased-under-the-null choice the paper recommends).

    Determinism: per-user x/y are exact integers; all ten per-variant
    moments are exact BIGINT/DECIMAL(38,0) folds; θ, the adjusted
    diff and z are the shared CUPED_* fixed finishes (z rounded to
    9 dp, 0.0 sentinels on degenerate variance). The order-dependent
    "adjust each user then average" formulation is algebraically
    collapsed into moment space so no float ever folds.

    Output: one row (n_a, n_b, theta, diff_raw, diff_adj, z_adj,
    significant).

    Plan / 100 TB: one (user) rollup, one variant rollup to 2 rows,
    one 1-row pivot — the ab_conversion shape; the midpoint bound is
    a 1-row broadcast.
    """
    q = int(quant)
    bounds = events.agg(
        F.expr("(min(ts) + max(ts)) div 2").alias("_mid")
    )
    per_user = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CASE WHEN ts < _mid THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("x"),
            F.sum(
                F.expr(
                    f"CASE WHEN ts >= _mid AND event_type = "
                    f"'{conversion}' THEN CAST(round(value * {q}) "
                    f"AS BIGINT) ELSE 0 END"
                )
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            F.expr("user_id % 2").alias("variant"), "x", "y"
        )
    )
    vm = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    pooled = vm.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").cast("long").alias("sx"),
        F.sum("sy").cast("long").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
    ).select(F.expr(CUPED_THETA).alias("theta"))
    piv = vm.groupBy().agg(
        *[
            F.max(
                F.expr(f"CASE WHEN variant = {v} THEN {c} END")
            ).alias(f"{c}{tag}")
            for v, tag in ((0, "a"), (1, "b"))
            for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
        ]
    )
    return piv.crossJoin(F.broadcast(pooled)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr("round(theta, 9)").alias("theta"),
        F.expr(f"round({CUPED_DIFF_RAW}, 9)").alias("diff_raw"),
        F.expr(f"round({CUPED_DIFF_ADJ}, 9)").alias("diff_adj"),
        F.expr(CUPED_Z).alias("z_adj"),
        F.expr(f"abs({CUPED_Z}) > 1.959963985e0").alias("significant"),
    )


# Weekend-effect shared finish: two-sided binomial z of the weekend
# event share against the 2/7 calendar null, over exact counts.
WEEKEND_Z = (
    "CASE WHEN n > 0 THEN "
    "round((CAST(n_weekend AS DOUBLE) "
    "- CAST(n AS DOUBLE) * 2e0 / 7e0) "
    "/ sqrt(CAST(n AS DOUBLE) * (2e0 / 7e0) * (5e0 / 7e0)), 9) "
    "ELSE 0e0 END"
)


def weekend_effect(events: DataFrame) -> DataFrame:
    """Weekend-vs-weekday activity test per event type: is the
    weekend share significantly off the 2/7 calendar null — the
    product-rhythm flag beside ev_dow_chi2's full 7-bin uniformity
    test (chi² says "some day differs"; this says "the weekend
    specifically, and in which direction").

    Determinism: day-of-week is the exact integer (epoch_days + 4)
    mod 7 (the dow_chi2 rule — 1970-01-01 was a Thursday, so
    Thursday=4, Saturday=6, Sunday=0); the weekend is therefore
    dow IN (6, 0); counts exact; the z is the shared WEEKEND_Z
    fixed finish (9 dp).

    Output: (event_type, n, n_weekend, weekend_share, z, verdict) —
    verdict 'weekend_heavy' / 'weekday_heavy' / 'calendar' at the
    5% two-sided threshold.

    Plan / 100 TB: one partial-agg groupBy to |types| rows.
    """
    g = events.select(
        "event_type",
        F.expr(
            "CASE WHEN ((ts div 86400000000) + 4) % 7 IN (6, 0) "
            "THEN 1 ELSE 0 END"
        ).alias("_we"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_we").cast("long").alias("n_weekend"),
    )
    return g.select(
        "event_type",
        "n",
        "n_weekend",
        F.expr(
            "round(CAST(n_weekend AS DOUBLE) / CAST(n AS DOUBLE), 9)"
        ).alias("weekend_share"),
        F.expr(WEEKEND_Z).alias("z"),
        F.expr(
            f"CASE WHEN ({WEEKEND_Z}) > 1.959963985e0 "
            f"THEN 'weekend_heavy' "
            f"WHEN ({WEEKEND_Z}) < -1.959963985e0 "
            f"THEN 'weekday_heavy' ELSE 'calendar' END"
        ).alias("verdict"),
    )


# --- round-10 addition: robust daily-volume anomaly screen ------------
# (DAY_US is the module-level day constant defined at the top)

ANOM_Z_NUM = 51_891  # 10^4 · 3.5 · 1.4826 — the integer gate scale


def daily_anomalies(events: DataFrame) -> DataFrame:
    """Robust daily-volume anomaly screen: per epoch day the event
    count, the corpus median and MAD of daily counts, the robust
    z-score (n − med)/(1.4826·MAD), and the |z| > 3.5 flag — the
    Iglewicz-Hoaglin outlier rule on the traffic curve. The day-level
    companion of ev_rate_bursts (which works event-by-event): this is
    the "did something spike yesterday" dashboard query.

    Determinism: daily counts, the lower median and the MAD are exact
    integers (both order statistics picked by two-phase
    ``util.global_rank`` under a total order — never a single-task
    window); the anomaly flag is an exact integer cross-multiplication
    (10⁴·|n − med| > 51 891·MAD with 3.5·1.4826 = 5.1891 exact, so the
    boolean never rides a float); robust_z itself is ONE fixed
    division rounded to 9 dp; MAD = 0 (more than half the days share
    the median count) reports the 0.0 sentinel and flags nothing.

    Output: (day, n_events, med, mad, robust_z, is_anomaly).

    Plan / 100 TB: the day rollup is ONE partial-agg groupBy (|days|
    rows out); both rank passes run on that bounded day table.
    """
    from pennsieve_streaming_spark.util import global_rank

    days = events.select(
        F.expr(f"(ts div {DAY_US}) * {DAY_US}").alias("day")
    ).groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    ranked = global_rank(days, [F.asc("n_events"), F.asc("day")], "_r")
    tot = ranked.agg(F.max("_r").cast("long").alias("_n"))
    med = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.expr("_r = (_n + 1) div 2"))
        .select(F.col("n_events").alias("med"))
    )
    with_med = days.crossJoin(F.broadcast(med)).withColumn(
        "_ad", F.expr("abs(n_events - med)")
    )
    ranked2 = global_rank(
        with_med.select("_ad", "day"), [F.asc("_ad"), F.asc("day")], "_r"
    )
    mad = (
        ranked2.crossJoin(F.broadcast(tot))
        .filter(F.expr("_r = (_n + 1) div 2"))
        .select(F.col("_ad").alias("mad"))
    )
    out = with_med.crossJoin(F.broadcast(mad))
    return out.select(
        "day",
        "n_events",
        "med",
        "mad",
        F.expr(
            "CASE WHEN mad > 0 THEN round((n_events - med) "
            "/ (1.4826e0 * mad), 9) ELSE 0e0 END"
        ).alias("robust_z"),
        F.expr(
            f"mad > 0 AND 10000 * abs(n_events - med) > {ANOM_Z_NUM} * mad"
        ).alias("is_anomaly"),
    )
