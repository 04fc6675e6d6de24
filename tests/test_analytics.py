"""Event-analytics goldens: DAU, retention, funnel."""

from __future__ import annotations

from pennsieve_streaming_spark.operators.analytics import (
    DAY_US,
    WEEK_US,
    daily_active,
    funnel,
    weekly_retention,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "ts long, user_id long, event_type string"
    )


def test_daily_active_golden(spark):
    rows = [
        (0, 1, "view"), (10, 1, "view"), (20, 2, "view"),      # day 0: u1,u2
        (DAY_US + 5, 1, "view"),                                # day 1: u1
    ]
    got = {r.day: (r.n_events, r.active_users)
           for r in daily_active(_ev(spark, rows)).collect()}
    assert got == {0: (3, 2), DAY_US: (1, 1)}


def test_weekly_retention_golden(spark):
    rows = [
        (0, 1, "v"), (0, 2, "v"),                  # week 0: u1,u2
        (WEEK_US, 1, "v"),                          # week 1: u1 (retained)
        (2 * WEEK_US, 3, "v"),                      # week 2: u3
    ]
    got = {r.week: (r.active, r.retained_next_week)
           for r in weekly_retention(_ev(spark, rows)).collect()}
    assert got == {0: (2, 1), WEEK_US: (1, 0), 2 * WEEK_US: (1, 0)}


def test_funnel_golden(spark):
    rows = [
        (100, 1, "signup"), (500, 1, "purchase"),   # converts, delay 400
        (100, 2, "signup"),                         # no purchase
        (100, 3, "purchase"), (900, 3, "signup"),   # purchase BEFORE signup
        (0, 4, "signup"), (50, 4, "purchase"), (80, 4, "purchase"),  # first qualifying = 50
    ]
    [r] = funnel(_ev(spark, rows), "signup", "purchase").collect()
    assert r.n_first_users == 4
    assert r.n_converted == 2          # users 1 and 4; user 3's purchase precedes signup
    assert r.sum_delay_us == 400 + 50
    assert r.avg_delay_us == 225.0


def test_funnel_no_conversions(spark):
    rows = [(0, 1, "signup"), (10, 2, "signup")]
    [r] = funnel(_ev(spark, rows), "signup", "purchase").collect()
    assert (r.n_first_users, r.n_converted, r.sum_delay_us, r.avg_delay_us) == (
        2, 0, 0, 0.0,
    )


def test_funnel_equal_ts_not_counted(spark):
    # strictly-after rule: purchase at the same µs as signup doesn't count
    rows = [(100, 1, "signup"), (100, 1, "purchase")]
    [r] = funnel(_ev(spark, rows), "signup", "purchase").collect()
    assert r.n_converted == 0


def _ev_id(spark, rows):
    return spark.createDataFrame(
        rows, "ts long, event_id long, user_id long, event_type string"
    )


def test_event_transitions_golden(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        event_transitions,
    )

    rows = [
        (0, 1, 1, "view"), (10, 2, 1, "cart"), (20, 3, 1, "buy"),
        (0, 4, 2, "view"), (10, 5, 2, "cart"),
        (0, 6, 3, "view"), (5, 7, 3, "view"),
        # same-µs tie for user 4: event_id orders it -> view->cart
        (0, 9, 4, "cart"), (0, 8, 4, "view"),
    ]
    got = {(r.src_type, r.dst_type): r.n_transitions
           for r in event_transitions(_ev_id(spark, rows), k=10).collect()}
    assert got == {
        ("view", "cart"): 3,
        ("cart", "buy"): 1,
        ("view", "view"): 1,
    }


def test_event_transitions_topk_tie_order(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        event_transitions,
    )

    # two transitions with equal counts: (a->b) and (c->d); k=1 must
    # keep the lexicographically smaller (a, b)
    rows = [
        (0, 1, 1, "a"), (1, 2, 1, "b"),
        (0, 3, 2, "c"), (1, 4, 2, "d"),
    ]
    out = event_transitions(_ev_id(spark, rows), k=1).collect()
    assert [(r.src_type, r.dst_type) for r in out] == [("a", "b")]


def test_inter_event_gaps_golden(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        inter_event_gaps,
    )

    rows = [
        (0, 1, 1, "view"), (100, 2, 1, "cart"), (300, 3, 1, "view"),
        (1000, 4, 2, "view"), (1010, 5, 2, "view"),
    ]
    got = {r.event_type: (r.n_gaps, r.sum_gap_us, r.min_gap_us,
                          r.max_gap_us, r.avg_gap_us)
           for r in inter_event_gaps(_ev_id(spark, rows)).collect()}
    # gaps attributed to the EARLIER event's type:
    #   u1: view->cart 100, cart->view 200; u2: view->view 10
    # view gaps: 100 (u1 first) and 10 (u2) ; cart gaps: 200
    assert got == {
        "view": (2, 110, 10, 100, 55.0),
        "cart": (1, 200, 200, 200, 200.0),
    }


def test_user_sessions_golden(spark):
    from pennsieve_streaming_spark.operators.analytics import user_sessions

    rows = [
        # user 1: two sessions split by a 1000µs idle gap
        (0, 1, 1, "v"), (100, 2, 1, "v"), (200, 3, 1, "v"),
        (2000, 4, 1, "v"), (2100, 5, 1, "v"),
        # user 2: single-event session
        (50, 6, 2, "v"),
    ]
    ev = spark.createDataFrame(
        rows, "ts long, event_id long, user_id long, event_type string"
    )
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.duration_us)
        for r in user_sessions(ev, gap_us=1000).collect()
    )
    assert got == [
        (1, 0, 200, 3, 200),
        (1, 2000, 2100, 2, 100),
        (2, 50, 50, 1, 0),
    ]


def test_user_sessions_gap_boundary_is_exclusive(spark):
    from pennsieve_streaming_spark.operators.analytics import user_sessions

    # gap EXACTLY equal to the threshold does NOT split
    rows = [(0, 1, 1, "v"), (1000, 2, 1, "v"), (2001, 3, 1, "v")]
    ev = spark.createDataFrame(
        rows, "ts long, event_id long, user_id long, event_type string"
    )
    got = user_sessions(ev, gap_us=1000).collect()
    assert len(got) == 2  # 0..1000 together; 2001 splits (1001 > 1000)


def test_cohort_matrix_golden(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        WEEK_US,
        cohort_matrix,
    )

    rows = [
        # cohort week 0: u1 (stays 2 weeks), u2 (week 0 only)
        (0, 1, "v"), (0, 2, "v"),
        (WEEK_US + 5, 1, "v"),
        (2 * WEEK_US, 1, "v"),
        # cohort week 1: u3
        (WEEK_US, 3, "v"),
    ]
    ev = spark.createDataFrame(rows, "ts long, user_id long, event_type string")
    got = {(r.cohort_week, r.week_n): (r.cohort_size, r.retained, r.retention)
           for r in cohort_matrix(ev, max_weeks=8).collect()}
    assert got == {
        (0, 0): (2, 2, 1.0),
        (0, 1): (2, 1, 0.5),
        (0, 2): (2, 1, 0.5),
        (WEEK_US, 0): (1, 1, 1.0),
    }


def test_funnel_steps_golden(spark):
    from pennsieve_streaming_spark.operators.analytics import funnel_steps

    rows = [
        # u1 completes all three in order
        (0, 1, 1, "a"), (10, 2, 1, "b"), (20, 3, 1, "c"),
        # u2 does a then c (skips b): stops at step 0
        (0, 4, 2, "a"), (10, 5, 2, "c"),
        # u3 does b before a: b must be AFTER a -> stops at step 0
        (0, 6, 3, "b"), (10, 7, 3, "a"),
        # u4 never starts
        (0, 8, 4, "c"),
    ]
    ev = spark.createDataFrame(
        rows, "ts long, event_id long, user_id long, event_type string"
    )
    got = {r.step_idx: r.n_users
           for r in funnel_steps(ev, ["a", "b", "c"]).collect()}
    assert got == {0: 3, 1: 1, 2: 1}


def test_last_touch_golden(spark):
    from pennsieve_streaming_spark.operators.analytics import last_touch

    rows = [
        (0, 1, 1, "ad"), (10, 2, 1, "email"), (20, 3, 1, "purchase"),
        (0, 4, 2, "purchase"),                      # no prior touch
        (0, 5, 3, "ad"), (10, 6, 3, "purchase"),
        (20, 7, 3, "purchase"),                      # ad still last touch
    ]
    ev = spark.createDataFrame(
        rows, "ts long, event_id long, user_id long, event_type string"
    )
    got = {r.touch_type: r.n_conversions
           for r in last_touch(ev, "purchase").collect()}
    assert got == {"email": 1, "none": 1, "ad": 2}


def test_stickiness_golden(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        DAY_US,
        stickiness,
    )

    rows = [
        (0, 1, 1, "v"), (0, 2, 2, "v"),                 # day 0: u1,u2
        (DAY_US, 3, 1, "v"),                             # day 1: u1
        (40 * DAY_US, 4, 3, "v"),                        # day 40: u3 only
    ]
    ev = spark.createDataFrame(
        rows, "ts long, event_id long, user_id long, event_type string"
    )
    got = {r.day: (r.dau, r.mau, r.stickiness)
           for r in stickiness(ev, window_days=30).collect()}
    # day 0: trailing window holds only day-0 users
    assert got[0] == (2, 2, 1.0)
    # day 1: dau 1 (u1), mau 2 (u1,u2 from day 0..1)
    assert got[DAY_US] == (1, 2, 0.5)
    # day 40: days 11..40 contain only u3
    assert got[40 * DAY_US] == (1, 1, 1.0)
    assert set(got) == {0, DAY_US, 40 * DAY_US}  # inactive days skipped


def test_top_event_paths_golden(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        top_event_paths,
    )

    rows = [
        (0, 1, 1, "a"), (1, 2, 1, "b"), (2, 3, 1, "c"), (3, 4, 1, "a"),
        # user 1 path a>b>c>a -> triples a>b>c, b>c>a
        (0, 5, 2, "a"), (1, 6, 2, "b"), (2, 7, 2, "c"),
        # user 2 -> a>b>c again
        (0, 8, 3, "x"), (1, 9, 3, "y"),  # too short, no triple
    ]
    ev = spark.createDataFrame(
        rows, "ts long, event_id long, user_id long, event_type string"
    )
    got = [(r.path, r.n_paths) for r in top_event_paths(ev, 3, 10).collect()]
    assert got == [("a>b>c", 2), ("b>c>a", 1)]


def test_top_event_paths_same_us_ordered_by_event_id(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        top_event_paths,
    )

    rows = [(5, 11, 1, "b"), (5, 10, 1, "a"), (5, 12, 1, "c")]
    ev = spark.createDataFrame(
        rows, "ts long, event_id long, user_id long, event_type string"
    )
    got = [(r.path, r.n_paths) for r in top_event_paths(ev, 3, 10).collect()]
    assert got == [("a>b>c", 1)]


def test_top_event_paths_plans_as_takeordered(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        top_event_paths,
    )

    ev = spark.createDataFrame(
        [(0, 1, 1, "a")],
        "ts long, event_id long, user_id long, event_type string",
    )
    plan = top_event_paths(ev, 3, 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_markov_entropy_golden(spark):
    import math

    from pennsieve_streaming_spark.operators.analytics import markov_entropy

    # user 1: a->b, b->a, a->b   user 2: a->c
    # src a: {b:2, c:1} n=3; src b: {a:1} n=1 (deterministic -> H=0)
    rows = [
        (0, 1, 10, "a"), (1, 1, 11, "b"), (2, 1, 12, "a"), (3, 1, 13, "b"),
        (0, 2, 20, "a"), (1, 2, 21, "c"),
    ]
    ev = spark.createDataFrame(
        rows, "ts long, user_id long, event_id long, event_type string"
    )
    got = {
        r.src_type: (r.n_out, r.distinct_dst, r.entropy)
        for r in markov_entropy(ev).collect()
    }
    assert got["b"] == (1, 1, -0.0) or got["b"] == (1, 1, 0.0)
    n, dd, h = got["a"]
    assert (n, dd) == (3, 2)
    want = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert abs(h - want) < 1e-6


def test_markov_entropy_uniform_is_ln_k_and_null_dropped(spark):
    import math

    from pennsieve_streaming_spark.operators.analytics import markov_entropy

    # src 'u' fans out uniformly to 4 types; a NULL event_type row in
    # the middle must not create or break transitions
    rows = []
    for u, dst in enumerate(("p", "q", "r", "s")):
        rows.append((0, u, u * 10, "u"))
        rows.append((1, u, u * 10 + 1, dst))
    rows.append((0, 99, 990, "u"))
    rows.append((1, 99, 991, None))
    rows.append((2, 99, 992, "p"))
    ev = spark.createDataFrame(
        rows, "ts long, user_id long, event_id long, event_type string"
    )
    got = {r.src_type: r for r in markov_entropy(ev).collect()}
    # user 99's path with the NULL dropped is u->p: adds one more u->p
    assert got["u"].n_out == 5 and got["u"].distinct_dst == 4
    probs = [2 / 5, 1 / 5, 1 / 5, 1 / 5]
    want = -sum(p * math.log(p) for p in probs)
    assert abs(got["u"].entropy - want) < 1e-6


def test_rfm_ntile_closed_form_matches_reference(spark):
    """The closed-form bucket rule must equal NTILE(k) semantics for
    uneven splits (n mod k != 0), exact splits, and n < k (every row
    its own bucket)."""
    from pennsieve_streaming_spark.operators.analytics import rfm_scores

    def ref_ntile(n, k, r0):
        q, rem = divmod(n, k)
        cut = rem * (q + 1)
        if r0 < cut:
            return r0 // (q + 1) + 1
        return rem + 1 + (r0 - cut) // q

    for n in (3, 5, 12, 17):
        # users 0..n-1, one event each at distinct days, spend = rank
        rows = [
            (u, u * 86_400_000_000, float(u + 1)) for u in range(n)
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, ts long, value double"
        )
        got = {r.user_id: r for r in rfm_scores(ev, buckets=5).collect()}
        assert len(got) == n
        for u in range(n):
            r = got[u]
            # recency order: newest user (largest ts) ranks first
            assert r.recency_days == (n - 1 - u)
            assert r.r_score == ref_ntile(n, 5, n - 1 - u)
            # frequency all tie at 1 -> user_id order breaks ties
            assert r.f_score == ref_ntile(n, 5, u)
            # monetary: largest spend ranks first
            assert r.m_score == ref_ntile(n, 5, n - 1 - u)
            assert r.monetary_q == (u + 1) * 100
            assert r.rfm == r.r_score * 100 + r.f_score * 10 + r.m_score


def test_linear_attribution_segments_and_credit(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        linear_attribution,
    )

    rows = [
        # user 1: touches a,a,b -> purchase; touch c -> purchase
        (1, 0, 0, "a"), (1, 1, 1, "a"), (1, 2, 2, "b"),
        (1, 3, 3, "purchase"),
        (1, 4, 4, "c"), (1, 5, 5, "purchase"),
        # user 2: purchase with NO prior touch -> 'none'
        (2, 0, 6, "purchase"),
        # user 2: trailing touch with no later conversion -> ignored
        (2, 1, 7, "a"),
        # user 3: NULL type is not a touch; purchase credits 'none'
        (3, 0, 8, None), (3, 1, 9, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    got = {
        r.touch_type: r
        for r in linear_attribution(ev, "purchase").collect()
    }
    third = round(1e9 / 3)
    # a: 2/3 of conversion 1
    assert got["a"].n_conversions == 1
    assert got["a"].credit_q == 2 * third
    assert got["b"].credit_q == 1 * third
    # c: all of conversion 2
    assert got["c"].credit_q == 1_000_000_000
    # two no-touch conversions
    assert got["none"].n_conversions == 2
    assert got["none"].credit_q == 2_000_000_000
    # credit mass ~= #conversions (4), exact to the rounding quantum
    total = sum(r.credit_q for r in got.values())
    assert abs(total - 4_000_000_000) <= 4


def test_ab_conversion_counts_and_degenerate_z(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        ab_conversion_test,
    )

    # variant A (even ids): users 0,2,4 — 2 convert; variant B (odd):
    # users 1,3 — 0 convert
    rows = [
        (0, 0, 0, "purchase"), (2, 0, 1, "purchase"), (2, 1, 2, "view"),
        (4, 0, 3, "view"),
        (1, 0, 4, "view"), (3, 0, 5, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    r = ab_conversion_test(ev, "purchase").collect()[0]
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (3, 2, 2, 0)
    assert abs(r.rate_a - 2 / 3) < 1e-12 and r.rate_b == 0.0
    import math

    p = 2 / 5
    want = (2 / 3 - 0.0) / math.sqrt(p * (1 - p) * (1 / 3 + 1 / 2))
    assert abs(r.z - want) < 1e-12

    # all users convert -> zero pooled variance -> z NULL
    ev2 = spark.createDataFrame(
        [(0, 0, 0, "purchase"), (1, 0, 1, "purchase")],
        "user_id long, ts long, event_id long, event_type string",
    )
    r2 = ab_conversion_test(ev2, "purchase").collect()[0]
    # zero pooled variance -> the 0.0 "no evidence" sentinel (compared
    # outputs are NULL-free by harness policy)
    assert r2.z == 0.0 and r2.rate_a == 1.0 and r2.rate_b == 1.0


def test_session_duration_stats_exact_percentiles(spark):
    """Hand-checked percentile interpolation over known durations."""
    from pennsieve_streaming_spark.operators.analytics import (
        session_duration_stats,
    )

    # 5 single-session users with durations 0, 10, 20, 30, 40
    rows = []
    eid = 0
    for u, d in enumerate([0, 10, 20, 30, 40]):
        rows.append((u, 0, eid, "a")); eid += 1
        if d:
            rows.append((u, d, eid, "b")); eid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    r = session_duration_stats(ev, gap_us=1000).collect()[0]
    assert r.n_sessions == 5 and abs(r.mean_us - 20.0) < 1e-12
    assert abs(r.p50 - 20.0) < 1e-12     # exact middle
    assert abs(r.p90 - 36.0) < 1e-12     # 0.9*4 = 3.6 -> 30 + .6*10
    assert abs(r.p99 - 39.6) < 1e-9      # 0.99*4 = 3.96


def test_assoc_rules_lift_direction(spark):
    """Planted co-adoption: users 0-7 all have both A and B; C is
    carried by a disjoint user set -> lift(A->B) > 1, lift(A->C)
    absent (zero pair support); confidence is directional."""
    from pennsieve_streaming_spark.operators.analytics import assoc_rules

    rows = []
    for u in range(8):
        rows += [(u, "A"), (u, "B"), (u, "B")]   # dup event -> same basket
    for u in range(8, 16):
        rows += [(u, "C")]
    rows += [(16, "B")]                           # B without A
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {(r.antecedent, r.consequent): r for r in assoc_rules(ev, 5).collect()}

    ab = out[("A", "B")]
    assert (ab.n_ab, ab.n_a, ab.n_b, ab.n_users) == (8, 8, 9, 17)
    assert ab.confidence == 1.0                    # every A-user has B
    assert ab.lift == 8 * 17 / (8 * 9.0)           # > 1
    ba = out[("B", "A")]
    assert ba.confidence == 8 / 9                  # one B-only user
    assert ("A", "C") not in out and ("C", "A") not in out
    assert ab.support == 8 / 17


def test_ab_srm_flags_planted_mismatch(spark):
    """An 80/20 split must trip the chi-square guardrail; a 50/50
    surface must not; duplicate events never double-count a user."""
    from pennsieve_streaming_spark.operators.analytics import ab_srm_check

    rows = []
    # "good": users 0..19 exposed (10 even / 10 odd), with dup events
    for u in range(20):
        rows += [(u, "good"), (u, "good")]
    # "broken": 16 even users, 4 odd -> d=6, chi2 = 4*36/20 = 7.2
    for u in range(0, 32, 2):
        rows.append((u, "broken"))
    for u in (1, 3, 5, 7):
        rows.append((u, "broken"))
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r.event_type: r for r in ab_srm_check(ev).collect()}

    good = out["good"]
    assert (good.n_a, good.n_b, good.chi2, good.srm) == (10, 10, 0.0, False)
    broken = out["broken"]
    assert (broken.n_a, broken.n_b, broken.n_total) == (16, 4, 20)
    assert abs(broken.chi2 - 7.2) < 1e-12 and broken.srm is True


def test_conversion_lag_golden(spark):
    """Hand-built lags [0, 10, 20, 100] seconds: p50 interpolates
    between 10 and 20; a user who never converts is excluded; a user
    whose first event IS the purchase has lag 0."""
    from pennsieve_streaming_spark.operators.analytics import (
        conversion_lag_stats,
    )

    sec = 1_000_000
    rows = [
        (1, 0, "purchase"),                 # lag 0
        (2, 0, "click"), (2, 10 * sec, "purchase"),
        (3, 0, "click"), (3, 20 * sec, "purchase"),
        (4, 0, "click"), (4, 100 * sec, "purchase"),
        (5, 0, "click"), (5, 50 * sec, "click"),   # never converts
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    out = conversion_lag_stats(ev, "purchase").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_converted == 4
    assert r.mean_us == (0 + 10 + 20 + 100) * sec / 4
    # sorted lags [0,10,20,100]s: p50 at 0.5*3=1.5 -> 10 + 0.5*(20-10)
    assert r.p50 == 15 * sec
    # p90 at 0.9*3=2.7 -> 20 + 0.7*(100-20) = 76
    assert abs(r.p90 - 76 * sec) < 1e-6

    none = conversion_lag_stats(
        ev.filter("event_type <> 'purchase'"), "purchase"
    ).collect()
    assert none == []


def test_user_entropy_specialist_vs_explorer(spark):
    """One-type user: entropy 0, norm NULL; uniform 4-type user:
    entropy ln 4, norm 1; a skewed user sits strictly between."""
    import math

    from pennsieve_streaming_spark.operators.analytics import (
        user_behavior_entropy,
    )

    rows = []
    rows += [(1, "click")] * 8
    rows += [(2, t) for t in ("a", "b", "c", "d") for _ in range(4)]
    rows += [(3, "a")] * 7 + [(3, "b")]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r.user_id: r for r in user_behavior_entropy(ev).collect()}

    u1 = out[1]
    assert (u1.n_types, u1.entropy, u1.norm_entropy) == (1, 0.0, None)
    u2 = out[2]
    assert abs(u2.entropy - math.log(4)) < 1e-6
    assert abs(u2.norm_entropy - 1.0) < 1e-6
    u3 = out[3]
    assert 0.0 < u3.norm_entropy < 1.0


def test_retention_halflife_recovers_planted_decay(spark):
    """Plant a geometric half-per-2-weeks retention curve: cohort of
    64 users, half the survivors drop every 2 weeks -> slope
    = -ln(2)/2 per week, half-life = 2 weeks."""
    import math

    from pennsieve_streaming_spark.operators.analytics import (
        retention_halflife,
    )

    wk = 7 * 86_400_000_000
    rows = []
    # 64 users first active in week 0; user u stays active through
    # week 2*ceil(log2(64/(64/2^j)))... simpler: user u (0..63) is
    # active in weeks 0..(2 * (6 - bit_length rank)); construct by
    # survivor counts: weeks 1-2 -> 32 users, 3-4 -> 16, 5-6 -> 8
    surv = {0: 64, 1: 32, 2: 32, 3: 16, 4: 16, 5: 8, 6: 8}
    for w, n in surv.items():
        for u in range(n):
            rows.append((u, w * wk + u * 1_000_000, "click"))
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    out = retention_halflife(ev, max_weeks=6).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_ages == 6
    # ln(rate_k) = -ln2 * ceil(k/2) for k = 1..6: the LS slope of the
    # staircase is exactly -8*ln2/17.5 (covariance 8*(-ln2), x-var
    # 17.5), so half-life = 17.5/8 = 2.1875 weeks
    assert abs(r.slope_per_week - (-8 * math.log(2) / 17.5)) < 1e-6
    assert abs(r.halflife_weeks - 17.5 / 8) < 1e-6


def test_ab_power_scales_inversely_with_base_rate(spark):
    """Rarer conversions need more samples: with a 10% RELATIVE MDE,
    required n ~ (1-p)/p — the rare event needs ~an order of
    magnitude more users than the common one; degenerate (p=1)
    surfaces yield the -1.0 sentinel."""
    from pennsieve_streaming_spark.operators.analytics import (
        ab_power_analysis,
    )

    rows = []
    for u in range(100):
        rows.append((u, "common") if u < 50 else (u, "visit"))
        rows.append((u, "visit"))
        if u < 5:
            rows.append((u, "rare"))
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r.event_type: r for r in ab_power_analysis(ev).collect()}

    assert out["visit"].base_rate == 1.0
    # p = 1 degenerate -> the -1.0 "not computable" sentinel
    assert out["visit"].required_n_per_variant == -1.0
    assert out["common"].base_rate == 0.5
    assert out["rare"].base_rate == 0.05
    assert (
        out["rare"].required_n_per_variant
        > 15 * out["common"].required_n_per_variant
    )
    # closed form check at p = 0.5: n = 2 z2 * 0.25 / 0.0025 = 200 z2
    z2 = (1.96 + 0.8416) ** 2
    assert abs(out["common"].required_n_per_variant - 200 * z2) < 1e-9


def test_ab_variant_assignment_sign_safe(spark):
    """ADVICE r6: negative user_ids must land in a real variant —
    pmod(user_id, 2), not Spark's sign-keeping %, which would bucket
    them as variant -1 (excluded from both arms, but still counted in
    ab_srm_check's n_total, biasing chi2)."""
    from pennsieve_streaming_spark.operators.analytics import (
        ab_conversion_test,
        ab_srm_check,
    )

    rows = [
        (-2, 0, 0, "purchase"),   # even -> A, converts
        (-1, 0, 1, "view"),       # odd  -> B
        (1, 0, 2, "purchase"),    # odd  -> B, converts
        (2, 0, 3, "view"),        # even -> A
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    r = ab_conversion_test(ev, "purchase").collect()[0]
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (2, 1, 2, 1)

    srm = {x.event_type: x for x in ab_srm_check(ev).collect()}
    # every exposed user lands in exactly one arm: n_a + n_b == n_total
    for row in srm.values():
        assert row.n_a + row.n_b == row.n_total


def test_user_behavior_entropy_decimal_accumulator(spark):
    """ADVICE r6: the nano-nat fold accumulates in DECIMAL(38,0) so
    c*ln(c)*1e9 sums can't wrap BIGINT; values must be unchanged for
    in-range users."""
    import math

    from pennsieve_streaming_spark.operators.analytics import (
        user_behavior_entropy,
    )

    rows = [(1, "a")] * 3 + [(1, "b")] * 1 + [(2, "x")] * 4
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r.user_id: r for r in user_behavior_entropy(ev).collect()}
    # H(3/4, 1/4) via the quantized fold
    q = 1e9
    sq = 3 * round(math.log(3) * q) + 1 * round(math.log(1) * q)
    h = (round(math.log(4) * q) * 4 - sq) / (q * 4)
    assert abs(out[1].entropy - h) < 1e-12
    assert out[2].entropy == 0.0 and out[2].norm_entropy is None


def test_survival_km_matches_hand_curve(spark):
    """KM over four users: two deaths (day 0, day 10), two censored —
    S = 3/4 then 3/4 * 2/3 = 1/2; censored users leave the risk set
    without a death step."""
    from pennsieve_streaming_spark.operators.analytics import (
        DAY_US,
        survival_km,
    )

    d = DAY_US
    rows = [
        (1, 0), (1, 10 * d),            # death at duration 10
        (2, 0),                          # death at duration 0
        (3, 0), (3, 20 * d),            # last within 7d of end: censored
        (4, 5 * d), (4, 25 * d),        # defines obs_end: censored
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long")
    out = sorted(survival_km(ev).collect(), key=lambda r: r.duration_days)
    assert [(r.duration_days, r.n_at_risk, r.n_deaths) for r in out] == [
        (0, 4, 1), (10, 3, 1)
    ]
    assert abs(out[0].survival - 0.75) < 1e-6
    assert abs(out[1].survival - 0.5) < 1e-6

    # censor_us=0: nobody censored; the terminal day kills the whole
    # risk set -> survival exactly 0.0, no ln(0)
    out2 = sorted(
        survival_km(ev, censor_us=0).collect(),
        key=lambda r: r.duration_days,
    )
    assert out2[-1].n_deaths == out2[-1].n_at_risk
    assert out2[-1].survival == 0.0


def test_circadian_rhythm_extremes(spark):
    """A one-hour user has R = 1 (and peaks there); a perfectly
    uniform user has R = 0 and fails the Rayleigh test; peak-hour
    ties resolve to the smallest hour."""
    import math

    from pennsieve_streaming_spark.operators.analytics import (
        circadian_rhythm,
    )

    H = 3_600_000_000
    rows = []
    for i in range(48):
        rows.append((1, (9 * H) + i * 24 * H))        # always 09:00
        rows.append((2, (i % 24) * H + (i // 24) * 24 * H))  # uniform
    rows += [(3, 5 * H), (3, 7 * H)]                   # tie: hours 5,7
    ev = spark.createDataFrame(rows, "user_id long, ts long")
    out = {r.user_id: r for r in circadian_rhythm(ev).collect()}
    assert out[1].peak_hour == 9 and abs(out[1].r - 1.0) < 1e-7
    assert out[1].circadian is True and out[1].peak_share == 1.0
    assert abs(out[2].r) < 1e-7 and out[2].circadian is False
    assert out[3].peak_hour == 5
    # two events 2h apart: R = |e^i0 + e^i(pi/6)|/2
    want = abs(math.cos(0) + math.cos(math.pi / 6) + 1j * (
        math.sin(0) + math.sin(math.pi / 6))) / 2
    assert abs(out[3].r - want) < 1e-7


def test_markov_stationary_prefers_sink_heavy_type(spark):
    """Everyone funnels into 'checkout': its equilibrium share must
    beat the others'; pi sums to ~1."""
    from pennsieve_streaming_spark.operators.analytics import (
        markov_stationary,
    )

    rows = []
    eid = 0
    for u in range(10):
        for step, t in enumerate(["browse", "search", "checkout"]):
            rows.append((u, step, eid, t))
            eid += 1
        rows.append((u, 3, eid, "checkout"))
        eid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    out = {r.event_type: r for r in markov_stationary(ev).collect()}
    assert out["checkout"].pi > out["browse"].pi
    assert out["checkout"].pi > out["search"].pi
    assert abs(sum(r.pi for r in out.values()) - 1.0) < 1e-3
    assert out["checkout"].n_out == 10  # checkout->checkout loops


def test_pareto_alpha_known_geometry(spark):
    """Counts drawn as x = e^k give Σln = Σk exactly (up to the 1e-9
    quantum): alpha replays the closed form; an all-ones corpus is the
    documented NULL."""
    import math

    from pennsieve_streaming_spark.operators.analytics import pareto_alpha

    rows = []
    eid = 0
    xs = [1, 2, 4, 8, 16]
    for u, x in enumerate(xs):
        for _ in range(x):
            rows.append((u, eid)); eid += 1
    ev = spark.createDataFrame(rows, "user_id long, event_id long")
    [r] = pareto_alpha(ev).collect()
    want = 1.0 + len(xs) / sum(math.log(x) for x in xs)
    assert r.n_users == 5 and abs(r.alpha - want) < 1e-8

    ones = spark.createDataFrame([(u, u) for u in range(9)],
                                 "user_id long, event_id long")
    [r2] = pareto_alpha(ones).collect()
    assert r2.alpha is None and r2.n_users == 9


def test_new_vs_returning_composition(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        DAY_US,
        new_vs_returning,
    )

    d = DAY_US
    rows = [
        (1, 0), (2, 0),                 # day 0: both new
        (1, d), (3, d),                 # day 1: 1 returns, 3 new
        (1, 2 * d), (2, 2 * d), (3, 2 * d),  # day 2: all returning
        (1, 2 * d + 5),                 # same-day dup must not double
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long")
    out = {r.day // d: r for r in new_vs_returning(ev).collect()}
    assert (out[0].new_users, out[0].returning_users) == (2, 0)
    assert (out[1].new_users, out[1].returning_users) == (1, 1)
    assert (out[2].new_users, out[2].returning_users) == (0, 3)
    assert out[2].returning_share == 1.0


def test_ab_sequential_msprt_detects_planted_lift(spark):
    """A huge planted lift drives the always-valid p below alpha as
    evidence accumulates; a perfectly balanced experiment never
    rejects; the p sequence is non-increasing."""
    from pennsieve_streaming_spark.operators.analytics import (
        DAY_US,
        ab_sequential_msprt,
    )

    rows = []
    eid = 0
    # 30 days, 20 users/arm/day entering; arm A converts 90%, B 10%
    for d in range(30):
        for i in range(20):
            for arm in (0, 1):
                uid = (d * 40 + i * 2 + arm) * 2 + arm  # pmod 2 == arm
                rows.append((uid, d * DAY_US, eid, "visit")); eid += 1
                conv = (i < 18) if arm == 0 else (i < 2)
                if conv:
                    rows.append((uid, d * DAY_US + 5, eid, "purchase"))
                    eid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    out = sorted(ab_sequential_msprt(ev).collect(), key=lambda r: r.day)
    ps = [r.p_always_valid for r in out]
    assert all(a >= b for a, b in zip(ps, ps[1:]))   # non-increasing
    assert out[-1].rejected is True
    assert out[-1].n_a == 600 and out[-1].conv_a == 540

    # balanced: same conversion in both arms -> never rejects
    rows2 = []
    eid = 0
    for d in range(10):
        for i in range(10):
            for arm in (0, 1):
                uid = (d * 20 + i * 2 + arm) * 2 + arm
                rows2.append((uid, d * DAY_US, eid, "visit")); eid += 1
                if i < 5:
                    rows2.append((uid, d * DAY_US + 5, eid, "purchase"))
                    eid += 1
    ev2 = spark.createDataFrame(
        rows2, "user_id long, ts long, event_id long, event_type string"
    )
    out2 = ab_sequential_msprt(ev2).collect()
    assert all(not r.rejected for r in out2)


def test_funnel_windowed_cuts_slow_conversions(spark):
    from pennsieve_streaming_spark.operators.analytics import (
        DAY_US,
        funnel_windowed,
    )

    rows = [
        (1, 0, 0, "signup"), (1, 2 * DAY_US, 1, "purchase"),   # in window
        (2, 0, 2, "signup"), (2, 9 * DAY_US, 3, "purchase"),   # too slow
        (3, 0, 4, "signup"),                                    # never
        (4, 5, 5, "purchase"),                                  # no signup
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    )
    [r] = funnel_windowed(ev, "signup", "purchase", 7 * DAY_US).collect()
    assert (r.n_first_users, r.n_converted, r.n_converted_window) == (3, 2, 1)
    assert abs(r.window_rate - 1 / 3) < 1e-12
    assert r.capture_share == 0.5


def test_mann_whitney_partial_ties_golden(spark):
    """mann_whitney folds its tie correction into the rank-window
    aggregation (Σ_rows(_t²−1) == Σ_groups(t³−t) exactly). The golden
    has PARTIAL ties (neither none nor all), so a wrong fold moves z."""
    import math

    from pennsieve_streaming_spark.operators.analytics import mann_whitney

    rows = [("a", float(v)) for v in [1, 1, 2, 3]]
    rows += [("b", float(v)) for v in [1, 2, 2, 4]]
    ev = spark.createDataFrame(rows, "event_type string, value double")
    out = mann_whitney(ev).collect()[0]
    # pooled: value 1 x3, 2 x3, 3 x1, 4 x1 -> tie3 = 2*(27-3) = 48
    # 2*rank: v1 -> 4, v2 -> 10, v3 -> 14, v4 -> 16; R1_2 = 4+4+10+14
    assert (out.n_a, out.n_b) == (4, 4)
    assert out.u2 == 12  # 32 - 4*5
    var_u = (16 / 12.0) * (9 - 48 / 56.0)  # tie-corrected, n=8
    assert out.z == round((12 - 16) / (2 * math.sqrt(var_u)), 9)
    assert not out.significant
