"""Window operator tests: top-n, sessionize and the rest of windows.py."""

from __future__ import annotations

import datetime as dt

import pytest

from ml_feature_store_pipeline_spark.operators import windows


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_top_n_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        "g string, id long, v double",
    )
    out = windows.top_n_per_group(df, ["g"], "v", 2, tiebreak_cols=["id"])
    got = {(r["g"], r["id"]) for r in out.collect()}
    assert got == {("a", 2), ("a", 3), ("b", 4)}


def test_top_n_tiebreak_deterministic(spark):
    df = spark.createDataFrame([("a", i, 1.0) for i in range(5)], "g string, id long, v double")
    out = windows.top_n_per_group(df, ["g"], "v", 2, tiebreak_cols=["id"])
    assert sorted(r["id"] for r in out.collect()) == [0, 1]


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, ts("2024-01-01 10:00:00")),
        (1, ts("2024-01-01 10:10:00")),  # 10 min gap → same session
        (1, ts("2024-01-01 11:30:00")),  # 80 min gap → new session
        (2, ts("2024-01-01 09:00:00")),  # other user: own session numbering
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = windows.sessionize(df, "user_id", "ts", gap_seconds=1800)
    got = sorted((r["user_id"], r["ts"].isoformat(), r["session_id"]) for r in out.collect())
    assert [g[2] for g in got if g[0] == 1] == [1, 1, 2]
    assert [g[2] for g in got if g[0] == 2] == [1]


def test_sessionize_exact_gap_not_new_session(spark):
    rows = [(1, ts("2024-01-01 10:00:00")), (1, ts("2024-01-01 10:30:00"))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = windows.sessionize(df, "user_id", "ts", gap_seconds=1800)
    # gap == threshold is NOT > threshold → same session
    assert {r["session_id"] for r in out.collect()} == {1}


def test_session_stats_bounce_and_durations(spark):
    rows = [
        # user 1, session A: 3 events over 600 s
        (1, ts("2024-01-01 10:00:00")),
        (1, ts("2024-01-01 10:05:00")),
        (1, ts("2024-01-01 10:10:00")),
        # user 1, session B: single event → bounce, duration 0
        (1, ts("2024-01-01 12:00:00")),
        # user 2, session C: 2 events over 120 s
        (2, ts("2024-01-01 09:00:00")),
        (2, ts("2024-01-01 09:02:00")),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    r = windows.session_stats(df, "user_id", "ts", 1800).collect()[0]
    assert r["n_sessions"] == 3
    assert r["bounce_sessions"] == 1
    assert abs(r["bounce_rate"] - 1 / 3) < 1e-6
    assert r["avg_session_events"] == 2.0
    assert r["avg_duration_s"] == 240.0  # (600 + 0 + 120) / 3
    assert r["median_duration_s"] == 120.0
    assert r["max_duration_s"] == 600


# ---------------------------------------------------------------------------
# ordered funnel (r7)
# ---------------------------------------------------------------------------


def test_funnel_order_matters_and_chain_breaks(spark):
    import datetime as dt

    from ml_feature_store_pipeline_spark.operators.windows import funnel

    b = dt.datetime(2023, 1, 1)
    h = dt.timedelta(hours=1)
    ev = [
        # u1: clean full chain
        (1, "view", b), (1, "click", b + h), (1, "purchase", b + 2 * h),
        # u2: purchase BEFORE view — must not count (no click at all)
        (2, "purchase", b), (2, "view", b + h),
        # u3: click before view, then view — click must not count
        (3, "click", b), (3, "view", b + h),
        # u4: same-timestamp view+click completes both (>= semantics)
        (4, "view", b), (4, "click", b),
        # u5: never views — excluded from the funnel entirely
        (5, "click", b), (5, "purchase", b + h),
    ]
    df = spark.createDataFrame(ev, "user_id long, event_type string, ts timestamp")
    out = {r["user_id"]: r for r in funnel(df, "user_id", "ts", "event_type", ["view", "click", "purchase"]).collect()}
    assert out[1]["furthest_stage"] == 3
    assert out[2]["furthest_stage"] == 1 and out[2]["reached_2"] is None
    assert out[3]["furthest_stage"] == 1
    assert out[4]["furthest_stage"] == 2
    assert 5 not in out


def test_funnel_summary_counts_and_validation(spark):
    import datetime as dt

    import pytest as _pytest

    from ml_feature_store_pipeline_spark.operators.windows import funnel, funnel_summary

    b = dt.datetime(2023, 1, 1)
    ev = [(i, t, b + dt.timedelta(hours=k)) for i, seq in
          [(1, ["view", "click", "purchase"]), (2, ["view", "click"]), (3, ["view"])]
          for k, t in enumerate(seq)]
    df = spark.createDataFrame(ev, "user_id long, event_type string, ts timestamp")
    rows = {r["stage_idx"]: r for r in funnel_summary(df, "user_id", "ts", "event_type", ["view", "click", "purchase"]).collect()}
    assert rows[1]["n_keys"] == 3 and rows[1]["conv_from_first"] == 1.0
    assert rows[2]["n_keys"] == 2 and abs(rows[2]["conv_from_prev"] - 2 / 3) < 1e-6
    assert rows[3]["n_keys"] == 1 and rows[3]["conv_from_prev"] == 0.5
    with _pytest.raises(ValueError):
        funnel(df, "user_id", "ts", "event_type", ["view"])


def test_cohort_retention_weekly_triangle(spark):
    import datetime as dt

    from ml_feature_store_pipeline_spark.operators.windows import cohort_retention

    b = dt.datetime(2023, 1, 2)  # a Monday
    wk = dt.timedelta(days=7)
    ev = [
        # cohort W0: u1 active w0,w1,w2; u2 active w0,w2; u3 w0 only
        (1, b), (1, b + wk), (1, b + 2 * wk),
        (2, b + dt.timedelta(days=3)), (2, b + 2 * wk),
        (3, b),
        # cohort W1: u4 active w1
        (4, b + wk),
    ]
    df = spark.createDataFrame(ev, "user_id long, ts timestamp")
    out = {
        (r["cohort"].isoformat(), r["period_offset"]): r
        for r in cohort_retention(df, "user_id", "ts", period="week").collect()
    }
    c0 = b.date().isoformat()
    c1 = (b + wk).date().isoformat()
    assert out[(c0, 0)]["n_active"] == 3 and out[(c0, 0)]["retention"] == 1.0
    assert out[(c0, 1)]["n_active"] == 1  # only u1
    assert out[(c0, 2)]["n_active"] == 2  # u1 + u2
    assert out[(c1, 0)]["cohort_size"] == 1
    assert abs(out[(c0, 2)]["retention"] - 2 / 3) < 1e-6


def test_cohort_retention_month_calendar_offsets(spark):
    import datetime as dt

    from ml_feature_store_pipeline_spark.operators.windows import cohort_retention

    # Jan 31 → Mar 1: 59 days but exactly 2 calendar months after truncation
    df = spark.createDataFrame(
        [(1, dt.datetime(2023, 1, 31)), (1, dt.datetime(2023, 3, 1))],
        "user_id long, ts timestamp",
    )
    out = {r["period_offset"] for r in cohort_retention(df, "user_id", "ts", period="month").collect()}
    assert out == {0, 2}


def test_type_affinity_lift_hand_computed(spark):
    import datetime as dt

    from ml_feature_store_pipeline_spark.operators.windows import type_affinity

    b = dt.datetime(2023, 1, 1)
    # 4 users: A+B together twice, A alone once, C alone once
    ev = [
        (1, "A", b), (1, "B", b), (1, "A", b),  # dup event must not double count
        (2, "A", b), (2, "B", b),
        (3, "A", b),
        (4, "C", b),
    ]
    df = spark.createDataFrame(ev, "user_id long, event_type string, ts timestamp")
    out = {(r["type_a"], r["type_b"]): r for r in type_affinity(df, "user_id", "event_type").collect()}
    ab = out[("A", "B")]
    assert ab["n_keys_both"] == 2
    assert ab["support"] == 0.5  # 2 of 4 users
    # lift = P(AB)/(P(A)P(B)) = 0.5/(0.75*0.5) = 4/3
    assert abs(ab["lift"] - round(4 / 3, 6)) < 1e-9
    assert ("A", "C") not in out  # never co-occur


def test_active_user_counts_hand_checked(spark):
    import datetime as dt

    from ml_feature_store_pipeline_spark.operators.windows import active_user_counts

    b = dt.datetime(2023, 1, 1)
    ev = [
        (1, b), (2, b), (1, b),            # day 0: users {1,2} (dup event once)
        (1, b + dt.timedelta(days=2)),     # day 2: {1}
        (3, b + dt.timedelta(days=9)),     # day 9: {3}
    ]
    df = spark.createDataFrame(ev, "user_id long, ts timestamp")
    out = {r["day"].isoformat(): r for r in active_user_counts(df, "user_id", "ts", windows=(1, 7)).collect()}
    assert len(out) == 10  # full spine, gaps included
    assert out["2023-01-01"]["active_1d"] == 2
    assert out["2023-01-02"]["active_1d"] == 0 and out["2023-01-02"]["active_7d"] == 2
    assert out["2023-01-03"]["active_1d"] == 1
    assert out["2023-01-07"]["active_7d"] == 2   # days 1+3 both inside [1..7]
    assert out["2023-01-08"]["active_7d"] == 1   # day 1 aged out, day 3 remains
    assert out["2023-01-10"]["active_1d"] == 1 and out["2023-01-10"]["active_7d"] == 1
    with __import__("pytest").raises(ValueError):
        active_user_counts(df, "user_id", "ts", windows=())


def test_rfm_scores_hand_checked(spark):
    """n_tiles=2 on 3 customers with distinct metric orderings: boundary =
    the interpolated median; scores assigned by > comparisons; recency
    inverted (most recent → highest)."""
    b = dt.datetime(2023, 1, 1)
    rows = [
        # cust 1: 1 order, long ago, small spend  -> worst on all three
        (1, b, 10.0),
        # cust 2: 3 recent orders, big spend      -> best on all three
        (2, b + dt.timedelta(days=8), 100.0),
        (2, b + dt.timedelta(days=9), 100.0),
        (2, b + dt.timedelta(days=10), 100.0),
        # cust 3: 2 mid orders, mid spend
        (3, b + dt.timedelta(days=4), 50.0),
        (3, b + dt.timedelta(days=5), 40.0),
    ]
    df = spark.createDataFrame(rows, "k long, t timestamp, amt double")
    out = {r["k"]: r for r in windows.rfm_scores(df, "k", "t", "amt", n_tiles=2).collect()}
    # asof = day 10. recency: c1=10, c2=0, c3=5; frequency: 1,3,2; monetary: 10,300,90
    assert out[1]["recency_days"] == 10 and out[2]["recency_days"] == 0
    assert out[3]["recency_days"] == 5
    assert (out[1]["frequency"], out[2]["frequency"], out[3]["frequency"]) == (1, 3, 2)
    assert out[2]["monetary"] == 300.0
    # medians: recency 5, frequency 2, monetary 90 → >boundary lands in tile 2
    assert out[2]["rfm_segment"] == 222  # recency 0 ≤ 5 → r tile 1 → r_score 2
    assert out[1]["rfm_segment"] == 111  # recency 10 > 5 → r_score 1; f,m lowest
    assert out[3]["rfm_segment"] == 211  # recency 5 ≤ 5 → r_score 2; f=2,m=90 at boundary → tile 1
    for r in out.values():
        assert r["rfm_segment"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]


def test_rfm_scores_partitioning_invariant_and_empty(spark):
    b = dt.datetime(2023, 1, 1)
    rows = [
        ((i * 7) % 23, b + dt.timedelta(days=i % 40, hours=i % 5), float((i * 13) % 97) + 1)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k long, t timestamp, amt double")
    a = sorted(map(tuple, windows.rfm_scores(df, "k", "t", "amt").collect()))
    c = sorted(map(tuple, windows.rfm_scores(df.repartition(13), "k", "t", "amt").collect()))
    assert a == c and len(a) == 23
    empty = spark.createDataFrame([], "k long, t timestamp, amt double")
    out = windows.rfm_scores(empty, "k", "t", "amt")
    assert out.count() == 0
    assert out.columns == [
        "k", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "rfm_segment",
    ]


def test_touch_attribution_hand_checked(spark):
    """user 1: view → click → purchase → purchase (first=view, last for the
    2nd purchase = click — the 1st purchase never credits); user 2: a bare
    purchase → (direct) on both models."""
    b = dt.datetime(2023, 1, 1)
    rows = [
        (1, b, 1, "view", 0.0),
        (2, b + dt.timedelta(minutes=1), 1, "click", 0.0),
        (3, b + dt.timedelta(minutes=2), 1, "purchase", 10.0),
        (4, b + dt.timedelta(minutes=3), 1, "purchase", 5.0),
        (5, b, 2, "purchase", 7.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string, value double")
    out = {
        (r["model"], r["channel"]): (r["conversions"], r["attributed_value"])
        for r in windows.touch_attribution(
            df, "user_id", "ts", "event_type",
            conversion="purchase", tie_col="event_id", value_col="value",
        ).collect()
    }
    assert out[("first_touch", "view")] == (2, 15.0)
    assert out[("first_touch", "(direct)")] == (1, 7.0)
    assert out[("last_touch", "click")] == (2, 15.0)   # purchases are never touches
    assert out[("last_touch", "(direct)")] == (1, 7.0)
    assert ("last_touch", "purchase") not in out


def test_touch_attribution_same_ts_tiebreak_deterministic(spark):
    """Two touches share the purchase's preceding timestamp: the (ts,
    event_id) total order pins which is 'last' regardless of partitioning."""
    b = dt.datetime(2023, 1, 1)
    rows = [
        (1, b, 1, "view", 0.0),
        (2, b, 1, "click", 0.0),     # same ts as the view; higher event_id → later
        (3, b + dt.timedelta(minutes=1), 1, "purchase", 3.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string, value double")
    for reps in (1, 7):
        out = {
            (r["model"], r["channel"])
            for r in windows.touch_attribution(
                df.repartition(reps), "user_id", "ts", "event_type",
                conversion="purchase", tie_col="event_id", value_col="value",
            ).collect()
        }
        assert ("first_touch", "view") in out
        assert ("last_touch", "click") in out


def test_interarrival_stats_hand_checked(spark):
    b = dt.datetime(2023, 1, 1)
    rows = [
        (10, 1, b),
        (11, 1, b + dt.timedelta(days=2)),            # gap 2.0
        (12, 1, b + dt.timedelta(days=2, hours=12)),  # gap 0.5
        (13, 2, b),                                   # single event: no gaps
        (14, 3, b), (15, 3, b),                       # same ts: gap 0 (tie order)
    ]
    df = spark.createDataFrame(rows, "oid long, k long, t timestamp")
    out = {r["k"]: r for r in windows.interarrival_stats(df, "k", "t", tie_col="oid").collect()}
    assert (out[1]["n_events"], out[1]["n_gaps"]) == (3, 2)
    assert out[1]["mean_gap_days"] == 1.25
    assert out[1]["median_gap_days"] == 1.25  # interpolated midpoint of {0.5, 2.0}
    assert (out[1]["min_gap_days"], out[1]["max_gap_days"]) == (0.5, 2.0)
    assert (out[2]["n_events"], out[2]["n_gaps"]) == (1, 0)
    assert out[2]["mean_gap_days"] is None and out[2]["median_gap_days"] is None
    assert out[3]["n_gaps"] == 1 and out[3]["max_gap_days"] == 0.0


def test_interarrival_stats_partitioning_invariant_single_exchange(spark):
    b = dt.datetime(2023, 1, 1)
    rows = [
        (i, (i * 3) % 11, b + dt.timedelta(hours=(i * 7) % 200)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "oid long, k long, t timestamp")
    a = sorted(map(tuple, windows.interarrival_stats(df, "k", "t", tie_col="oid").collect()))
    c = sorted(
        map(tuple, windows.interarrival_stats(df.repartition(9), "k", "t", tie_col="oid").collect())
    )
    assert a == c and len(a) == 11
    # the groupBy must REUSE the window's key partitioning: exactly one
    # hashpartitioning exchange on the key in the whole plan
    plan = (
        windows.interarrival_stats(df, "k", "t", tie_col="oid")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("hashpartitioning(k#") == 1


def test_resample_daily_ffill_hand_checked(spark):
    """key 1: events on days 0 and 2 (two same-day updates on day 0 — the
    (ts, tie) LAST wins); spine runs to the corpus max (day 4, set by
    key 2), so day 3-4 carry day 2's value."""
    b = dt.datetime(2023, 1, 1)
    rows = [
        (1, 1, b + dt.timedelta(hours=1), 10.0),
        (2, 1, b + dt.timedelta(hours=1), 99.0),   # same ts, higher tie → wins day 0
        (3, 1, b + dt.timedelta(days=2), 20.0),
        (4, 2, b + dt.timedelta(days=4), 7.0),
    ]
    df = spark.createDataFrame(rows, "eid long, k long, t timestamp, v double")
    out = {
        (r["k"], r["day"].isoformat()): (r["value_ffill"], r["is_observed"])
        for r in windows.resample_daily_ffill(df, "k", "t", "v", tie_col="eid").collect()
    }
    assert out[(1, "2023-01-01")] == (99.0, True)
    assert out[(1, "2023-01-02")] == (99.0, False)   # gap day carries forward
    assert out[(1, "2023-01-03")] == (20.0, True)
    assert out[(1, "2023-01-04")] == (20.0, False)
    assert out[(1, "2023-01-05")] == (20.0, False)   # carried to corpus max day
    assert out[(2, "2023-01-05")] == (7.0, True)
    assert len([k for k in out if k[0] == 1]) == 5   # day 0..4 spine
    assert len([k for k in out if k[0] == 2]) == 1   # starts at its first day


def test_resample_daily_ffill_partitioning_invariant(spark):
    b = dt.datetime(2023, 1, 1)
    rows = [
        (i, (i * 5) % 7, b + dt.timedelta(hours=(i * 11) % 400), float(i % 30))
        for i in range(250)
    ]
    df = spark.createDataFrame(rows, "eid long, k long, t timestamp, v double")
    a = sorted(map(tuple, windows.resample_daily_ffill(df, "k", "t", "v", tie_col="eid").collect()))
    c = sorted(
        map(tuple, windows.resample_daily_ffill(df.repartition(11), "k", "t", "v", tie_col="eid").collect())
    )
    assert a == c


def test_rfm_scores_empty_preserves_caller_key_type(spark):
    empty = spark.createDataFrame([], "k string, t timestamp, amt double")
    out = windows.rfm_scores(empty, "k", "t", "amt")
    assert out.count() == 0
    assert dict(out.dtypes)["k"] == "string"


def test_rfm_scores_all_null_timestamps_keep_rows(spark):
    """Rows with no usable timestamp anywhere must still aggregate —
    frequency/monetary score normally, recency and r_score/segment are
    NULL (exactly what the SQL recompute yields; review finding)."""
    rows = [(1, None, 10.0), (1, None, 20.0), (2, None, 99.0)]
    df = spark.createDataFrame(rows, "k long, t timestamp, amt double")
    out = {r["k"]: r for r in windows.rfm_scores(df, "k", "t", "amt", n_tiles=2).collect()}
    assert len(out) == 2
    assert out[1]["recency_days"] is None and out[1]["r_score"] is None
    assert out[1]["rfm_segment"] is None
    assert (out[1]["frequency"], out[2]["frequency"]) == (2, 1)
    assert out[2]["m_score"] == 2 and out[1]["m_score"] == 1  # 99 > median 64.5


def test_interarrival_mean_respects_round_digits(spark):
    """One gap → mean must EQUAL max at any round_digits (the decimal sum
    scale tracks round_digits; review finding: scale=6 re-rounded it)."""
    b = dt.datetime(2023, 1, 1)
    df = spark.createDataFrame(
        [(1, 1, b), (2, 1, b + dt.timedelta(seconds=4))], "oid long, k long, t timestamp"
    )
    out = windows.interarrival_stats(df, "k", "t", tie_col="oid", round_digits=8).collect()[0]
    assert out["mean_gap_days"] == out["max_gap_days"] == round(4 / 86400.0, 8)


def test_resample_ffill_null_value_is_not_an_observation(spark):
    """A NULL-valued event must neither shadow a same-day real value as
    the day's last row nor mark the day observed (review finding)."""
    b = dt.datetime(2023, 1, 1)
    rows = [
        (1, 1, b + dt.timedelta(hours=9), 50.0),
        (2, 1, b + dt.timedelta(hours=17), None),   # later same day, NULL
        (3, 1, b + dt.timedelta(days=1, hours=1), None),  # all-NULL day
    ]
    df = spark.createDataFrame(rows, "eid long, k long, t timestamp, v double")
    out = {
        r["day"].isoformat(): (r["value_ffill"], r["is_observed"])
        for r in windows.resample_daily_ffill(df, "k", "t", "v", tie_col="eid").collect()
    }
    assert out["2023-01-01"] == (50.0, True)    # real value survives the NULL
    assert out["2023-01-02"] == (50.0, False)   # NULL-only day = carried fill


def test_session_window_agg_native_semantics(spark):
    rows = [
        # gap exactly == 30 min → still MERGES (strictly-greater starts new)
        (1, ts("2024-01-01 10:00:00"), 1.0),
        (1, ts("2024-01-01 10:30:00"), 2.0),
        # 30 min + 1 µs after the previous event → NEW session
        (1, ts("2024-01-01 11:00:00.000001"), 3.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sorted(
        windows.session_window_agg(df, "user_id", "ts", "30 minutes", "value").collect(),
        key=lambda r: r["session_start"],
    )
    assert len(out) == 2
    assert out[0]["n_events"] == 2 and out[0]["total_value"] == 3.0
    assert out[0]["session_end"] == ts("2024-01-01 11:00:00")  # last + gap
    assert out[1]["n_events"] == 1 and out[1]["total_value"] == 3.0
    assert out[1]["session_end"] == ts("2024-01-01 11:30:00.000001")


def test_session_ngram_topk_respects_session_boundaries(spark):
    b = ts("2024-01-01 10:00:00")
    import datetime as dt

    m = dt.timedelta(minutes=1)
    rows = [
        # session 1: a b c d → trigrams a>b>c, b>c>d
        (1, b + 0 * m, 1, "a"),
        (1, b + 1 * m, 2, "b"),
        (1, b + 2 * m, 3, "c"),
        (1, b + 3 * m, 4, "d"),
        # session 2 (2h later): c d e → trigram c>d>e (no cross-session gram)
        (1, b + 120 * m, 5, "c"),
        (1, b + 121 * m, 6, "d"),
        (1, b + 122 * m, 7, "e"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    out = {r["ngram"]: r["n"] for r in windows.session_ngram_topk(
        df, "user_id", "ts", "event_type", 1800, n=3, top_k=10, tie_col="event_id"
    ).collect()}
    assert out == {"a>b>c": 1, "b>c>d": 1, "c>d>e": 1}


def test_ohlc_bars_open_close_tiebreak(spark):
    rows = [
        # same day, same ts for the last two events: event_id breaks the tie
        (1, ts("2024-01-01 09:00:00"), 1, 10.0),
        (1, ts("2024-01-01 15:00:00"), 2, 50.0),
        (1, ts("2024-01-01 15:00:00"), 3, 20.0),
        # second day
        (1, ts("2024-01-02 09:00:00"), 4, 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    out = {r["bucket"]: r for r in windows.ohlc_bars(
        df, "user_id", "ts", "value", tie_col="event_id", freq="day"
    ).collect()}
    d1 = out[ts("2024-01-01 00:00:00")]
    assert (d1["open"], d1["high"], d1["low"], d1["close"]) == (10.0, 50.0, 10.0, 20.0)
    assert d1["volume"] == 80.0 and d1["n_events"] == 3
    d2 = out[ts("2024-01-02 00:00:00")]
    assert (d2["open"], d2["close"], d2["n_events"]) == (7.0, 7.0, 1)


def test_weighted_quantile_median_hand_checked(spark):
    rows = [
        ("a", 1.0, 1.0),
        ("a", 2.0, 1.0),
        ("a", 3.0, 8.0),   # heavy weight pulls the median to 3
        ("a", 4.0, 0.0),   # non-positive weight ignored
        ("b", 5.0, 2.0),
        ("b", 7.0, 2.0),   # cum at v=5 is exactly half the total → crossing
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    out = {r["g"]: r for r in windows.weighted_quantile(df, ["g"], "v", "w", 0.5).collect()}
    assert out["a"]["weighted_quantile"] == 3.0
    assert out["a"]["total_weight"] == 10.0
    # cum(5)=2 >= 0.5*4 → the lower value wins at an exact boundary
    assert out["b"]["weighted_quantile"] == 5.0


def test_transition_matrix_hand_checked(spark):
    b = ts("2024-01-01 10:00:00")
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: a -> b -> a
        (1, b + 0 * m, 1, "a"),
        (1, b + 1 * m, 2, "b"),
        (1, b + 2 * m, 3, "a"),
        # user 2: a -> a (no cross-user transition from user 1's last "a")
        (2, b + 0 * m, 4, "a"),
        (2, b + 1 * m, 5, "a"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    out = {(r["from_token"], r["to_token"]): r for r in windows.transition_matrix(
        df, "user_id", "ts", "event_type", tie_col="event_id"
    ).collect()}
    assert set(out) == {("a", "b"), ("b", "a"), ("a", "a")}
    assert out[("a", "b")]["n"] == 1 and out[("a", "a")]["n"] == 1
    # P(to | from='a'): two outgoing transitions from 'a'
    assert out[("a", "b")]["prob"] == 0.5 and out[("a", "a")]["prob"] == 0.5
    assert out[("b", "a")]["prob"] == 1.0


def test_weighted_quantile_hist_matches_window_form(spark):
    import random

    rnd = random.Random(7)
    rows = []
    for g in ("a", "b", "c"):
        for _ in range(200):
            # coarse grid forces heavy value ties; weights include repeats
            rows.append((g, round(rnd.uniform(0, 10), 1), float(rnd.randint(1, 5))))
    # degenerate group: single distinct value
    rows += [("d", 4.2, 2.0)] * 7
    df = spark.createDataFrame(rows, "g string, v double, w double")
    for q in (0.1, 0.5, 0.9):
        want = {
            r["g"]: (r["weighted_quantile"], r["total_weight"])
            for r in windows.weighted_quantile(df, ["g"], "v", "w", q).collect()
        }
        for bins in (4, 1024):
            got = {
                r["g"]: (r["weighted_quantile"], r["total_weight"])
                for r in windows.weighted_quantile_hist(
                    df, ["g"], "v", "w", q, bins=bins
                ).collect()
            }
            assert got == want, (q, bins)


def test_active_user_counts_hll_tracks_exact(spark):
    rows = []
    b = ts("2024-01-01 00:00:00")
    for d in range(10):
        for u in range(1 + d * 3):  # growing actives
            rows.append((u, b + dt.timedelta(days=d, minutes=u)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    exact = {
        r["day"]: (r["active_1d"], r["active_7d"])
        for r in windows.active_user_counts(df, "user_id", "ts", windows=(1, 7)).collect()
    }
    est = {
        r["day"]: (r["active_1d"], r["active_7d"])
        for r in windows.active_user_counts_hll(df, "user_id", "ts", windows=(1, 7)).collect()
    }
    assert set(est) == set(exact)
    for day, (e1, e7) in exact.items():
        a1, a7 = est[day]
        # tiny cardinalities: the sketch is exact in sparse mode
        assert abs(a1 - e1) <= max(1, 0.05 * e1)
        assert abs(a7 - e7) <= max(1, 0.05 * e7)


def test_daily_value_percentiles_hand_checked(spark):
    rows = [(ts("2024-01-01 10:00:00"), float(v)) for v in range(1, 101)]
    rows += [(ts("2024-01-02 10:00:00"), 7.0)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["day"].isoformat(): r for r in windows.daily_value_percentiles(df, "ts", "value").collect()}
    d1 = out["2024-01-01"]
    assert d1["n"] == 100
    assert d1["p50"] == 50.5   # linear interpolation between 50 and 51
    assert d1["p95"] == 95.05
    assert d1["p99"] == 99.01
    d2 = out["2024-01-02"]
    assert (d2["p50"], d2["p95"], d2["p99"]) == (7.0, 7.0, 7.0)


def test_hourly_seasonality_uniform_and_spike(spark):
    rows = [(ts(f"2024-01-01 {h:02d}:00:00"),) for h in range(24)] * 2
    df = spark.createDataFrame(rows, "ts timestamp")
    out = {r["hour"]: r for r in windows.hourly_seasonality(df, "ts").collect()}
    assert len(out) == 24
    assert all(r["n"] == 2 and r["chi2_contrib"] == 0.0 for r in out.values())

    spike = spark.createDataFrame([(ts("2024-01-01 03:00:00"),)] * 24, "ts timestamp")
    s = {r["hour"]: r for r in windows.hourly_seasonality(spike, "ts").collect()}
    assert s[3]["n"] == 24 and s[3]["share"] == 1.0
    assert s[0]["n"] == 0 and s[0]["chi2_contrib"] == 1.0  # (0-1)^2/1
    assert s[3]["chi2_contrib"] == 529.0  # (24-1)^2/1


def test_conversion_latency_funnel_semantics(spark):
    b = ts("2024-01-01 10:00:00")
    m = dt.timedelta(minutes=1)
    rows = [
        # u1 converts in 10 min
        (1, b, "view"), (1, b + 10 * m, "purchase"),
        # u2 purchases BEFORE viewing — not a conversion
        (2, b, "purchase"), (2, b + 5 * m, "view"),
        # u3 views, never purchases
        (3, b, "view"),
        # u4 converts in 30 min
        (4, b, "view"), (4, b + 30 * m, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    r = windows.conversion_latency_stats(
        df, "user_id", "ts", "event_type", "view", "purchase"
    ).collect()[0]
    assert r["n_started"] == 4        # all four view at some point
    assert r["n_converted"] == 2      # u1 and u4 only
    assert r["conv_rate"] == 0.5
    assert r["mean_latency_s"] == 1200.0
    assert r["median_latency_s"] == 1200.0
    assert r["max_latency_s"] == 1800


def test_survival_curve_matches_hand_km(spark):
    import datetime
    import math

    from ml_feature_store_pipeline_spark.operators.windows import survival_curve

    base = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    # corpus max ts = day 30. censor window 7d -> last event after day 23
    # censored. users: A dies d=2, B dies d=2, C dies d=5, D censored d=10
    # (last event day 25 > 23), E dies d=0 (single event), F censored d=29
    rows = []
    for uid, (start, dur) in enumerate(
        [(0, 2), (1, 2), (3, 5), (15, 10), (5, 0), (1, 29)]
    ):
        rows.append((uid, base + start * day))
        rows.append((uid, base + (start + dur) * day))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["t_days"]: r for r in survival_curve(df, "user_id", "ts", censor_days=7).collect()}
    # observed durations: 0(d), 2(d,d), 5(d), 10(c), 29(c)
    assert out[0]["n_risk"] == 6 and out[0]["n_events"] == 1
    assert out[2]["n_risk"] == 5 and out[2]["n_events"] == 2
    assert out[5]["n_risk"] == 3 and out[5]["n_events"] == 1
    assert out[10]["n_censored"] == 1 and out[10]["n_events"] == 0
    s0 = 1 - 1 / 6
    s2 = s0 * (1 - 2 / 5)
    s5 = s2 * (1 - 1 / 3)
    assert out[0]["survival"] == pytest.approx(s0, abs=1e-6)
    assert out[2]["survival"] == pytest.approx(s2, abs=1e-6)
    assert out[5]["survival"] == pytest.approx(s5, abs=1e-6)
    # censoring never moves the estimate
    assert out[10]["survival"] == out[5]["survival"]


def test_survival_curve_everyone_dies_hits_zero(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.windows import survival_curve

    base = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    # two users, both die at d=1; corpus max ts day 30 (a third user's
    # single day-30 event, censored at d=0)
    rows = [
        (1, base), (1, base + day),
        (2, base), (2, base + day),
        (3, base + 30 * day),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["t_days"]: r for r in survival_curve(df, "user_id", "ts", censor_days=7).collect()}
    assert out[0]["n_censored"] == 1 and out[0]["n_events"] == 0
    assert out[1]["n_events"] == 2 and out[1]["n_risk"] == 2
    assert out[1]["survival"] == 0.0  # d == n_risk pins S to exactly 0


def test_markov_entropy_rate_extremes(spark):
    import datetime
    import math

    from ml_feature_store_pipeline_spark.operators.windows import markov_entropy_rate

    base = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=1)
    # deterministic cycle a->b->a->b: entropy rate 0
    det = [(1, base + i * s, "a" if i % 2 == 0 else "b", i) for i in range(20)]
    df = spark.createDataFrame(det, "user_id long, ts timestamp, event_type string, event_id long")
    r = markov_entropy_rate(df, "user_id", "ts", "event_type", tie_col="event_id").collect()[0]
    assert r["entropy_rate"] == 0.0 and r["norm_entropy_rate"] == 0.0
    assert r["n_states"] == 2 and r["n_transitions"] == 19

    # uniform 2-state chain: every from-state splits 50/50 -> H = ln 2, norm 1
    uni = []
    seq = ["a", "a", "b", "b"] * 10  # transitions: a->a, a->b, b->b, b->a equally
    for i, t in enumerate(seq):
        uni.append((1, base + i * s, t, i))
    df2 = spark.createDataFrame(uni, "user_id long, ts timestamp, event_type string, event_id long")
    r2 = markov_entropy_rate(df2, "user_id", "ts", "event_type", tie_col="event_id").collect()[0]
    assert r2["entropy_rate"] == pytest.approx(math.log(2), abs=0.01)
    assert r2["norm_entropy_rate"] == pytest.approx(1.0, abs=0.02)

    # single state: normalization undefined
    one = spark.createDataFrame(
        [(1, base, "x", 0), (1, base + s, "x", 1)],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    r3 = markov_entropy_rate(one, "user_id", "ts", "event_type", tie_col="event_id").collect()[0]
    assert r3["entropy_rate"] == 0.0 and r3["norm_entropy_rate"] is None


def test_cooccurrence_cosine_brute_force(spark):
    """Cosine over the binary incidence matches an explicit set reference
    (duplicates collapse; item popularity normalizes geometrically)."""
    import itertools
    import math

    from ml_feature_store_pipeline_spark.operators.windows import cooccurrence_cosine

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"), (3, "c"),  # duplicate (3, c) must collapse
        (4, "d"),
        (None, "a"), (5, None),  # null key/item rows drop
    ]
    df = spark.createDataFrame(rows, "k int, t string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in cooccurrence_cosine(df, "k", "t").collect()
    }
    sets = {"a": {1, 2, 3}, "b": {1, 2}, "c": {1, 3}, "d": {4}}
    expect = {}
    for x, y in itertools.combinations(sorted(sets), 2):
        both = len(sets[x] & sets[y])
        if both:
            expect[(x, y)] = (both, both / math.sqrt(len(sets[x]) * len(sets[y])))
    assert set(out) == set(expect)
    for k, (nb, cos) in expect.items():
        assert out[k]["n_keys_both"] == nb
        assert out[k]["cosine"] == pytest.approx(cos, abs=1e-6)
