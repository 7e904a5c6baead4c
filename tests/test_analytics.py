"""Event-sequence analytics: funnels + cohort retention."""

import datetime

import pytest
from pyspark.sql import functions as F

from db_spark import analytics


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp")


T0 = datetime.datetime(2024, 1, 1, 10, 0, 0)


def _t(minutes):
    return T0 + datetime.timedelta(minutes=minutes)


def test_funnel_counts_ordered_completion(spark):
    rows = [
        # u1 completes the whole funnel in order
        (1, "view", _t(0)), (1, "click", _t(5)), (1, "purchase", _t(10)),
        # u2 clicks BEFORE viewing: click doesn't count, purchase neither
        (2, "click", _t(0)), (2, "view", _t(5)), (2, "purchase", _t(8)),
        # u3 views only
        (3, "view", _t(0)),
        # u4 never views: not even step 0
        (4, "click", _t(0)), (4, "purchase", _t(1)),
    ]
    out = {r["step"]: r["users"] for r in analytics.funnel(
        _ev(spark, rows), ["view", "click", "purchase"]).collect()}
    assert out == {0: 3, 1: 1, 2: 1}


def test_funnel_second_event_can_qualify(spark):
    # u1's first click is before the view, second click after — the
    # cascade uses min(ts) AFTER the frontier, so the later click counts
    rows = [(1, "click", _t(0)), (1, "view", _t(5)), (1, "click", _t(9))]
    out = {r["step"]: r["users"] for r in analytics.funnel(
        _ev(spark, rows), ["view", "click"]).collect()}
    assert out == {0: 1, 1: 1}


def test_funnel_ties_do_not_qualify(spark):
    rows = [(1, "view", _t(0)), (1, "click", _t(0))]
    out = {r["step"]: r["users"] for r in analytics.funnel(
        _ev(spark, rows), ["view", "click"]).collect()}
    assert out == {0: 1, 1: 0}


def test_funnel_window_bounds_conversion(spark):
    rows = [
        # u1 clicks 5 min after view: inside a 10-min window
        (1, "view", _t(0)), (1, "click", _t(5)),
        # u2 clicks 30 min after view: outside it
        (2, "view", _t(0)), (2, "click", _t(30)),
        # u3 clicks exactly AT the bound: <= qualifies
        (3, "view", _t(0)), (3, "click", _t(10)),
    ]
    out = {r["step"]: r["users"] for r in analytics.funnel(
        _ev(spark, rows), ["view", "click"],
        max_gap_seconds=600).collect()}
    assert out == {0: 3, 1: 2}


def test_funnel_window_is_per_step_not_total(spark):
    # each gap is 8 min (inside a 10-min per-step window) but the
    # total view->purchase span is 16 min — still converts
    rows = [(1, "view", _t(0)), (1, "click", _t(8)),
            (1, "purchase", _t(16))]
    out = {r["step"]: r["users"] for r in analytics.funnel(
        _ev(spark, rows), ["view", "click", "purchase"],
        max_gap_seconds=600).collect()}
    assert out == {0: 1, 1: 1, 2: 1}


def test_funnel_window_greedy_first_touch(spark):
    # u1 views at t0 and again at t20; the only click is at t25.
    # Greedy frontier = t0, so the click (25 min later) misses the
    # 10-min window even though the second view would have caught it.
    rows = [(1, "view", _t(0)), (1, "view", _t(20)),
            (1, "click", _t(25))]
    out = {r["step"]: r["users"] for r in analytics.funnel(
        _ev(spark, rows), ["view", "click"],
        max_gap_seconds=600).collect()}
    assert out == {0: 1, 1: 0}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_

_hsettings = settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture])

_events = st_.lists(
    st_.tuples(st_.integers(1, 5),
               st_.sampled_from(["view", "click", "purchase"]),
               st_.integers(0, 5000)),  # minutes offset
    min_size=1, max_size=40)


@_hsettings
@given(evs=_events)
def test_funnel_window_never_exceeds_unwindowed(spark, evs):
    rows = [(u, t, _t(m)) for (u, t, m) in evs]
    df = _ev(spark, rows)
    steps = ["view", "click", "purchase"]
    free = {r["step"]: r["users"]
            for r in analytics.funnel(df, steps).collect()}
    capped = {r["step"]: r["users"]
              for r in analytics.funnel(
                  df, steps, max_gap_seconds=1800).collect()}
    wide = {r["step"]: r["users"]
            for r in analytics.funnel(
                df, steps, max_gap_seconds=10**9).collect()}
    for k in free:
        assert capped[k] <= free[k]
    assert wide == free  # a window longer than the data changes nothing


def test_cohort_retention_counts(spark):
    # two cohorts: week of Jan 1 (Mon) and week of Jan 8
    rows = [
        (1, "view", datetime.datetime(2024, 1, 2)),   # cohort w0
        (1, "view", datetime.datetime(2024, 1, 10)),  # active w1
        (2, "view", datetime.datetime(2024, 1, 3)),   # cohort w0, only w0
        (3, "view", datetime.datetime(2024, 1, 9)),   # cohort w1
        (3, "view", datetime.datetime(2024, 1, 16)),  # active w2 (offset 1)
    ]
    got = {(str(r["cohort_week"]), r["week_offset"]): r["users"]
           for r in analytics.cohort_retention(_ev(spark, rows)).collect()}
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,
    }


def test_cohort_offset0_is_cohort_size(spark):
    rows = [(u, "view", _t(u)) for u in range(7)]
    got = analytics.cohort_retention(_ev(spark, rows)).collect()
    assert len(got) == 1
    assert got[0]["week_offset"] == 0 and got[0]["users"] == 7


# ---------------------------------------------------------------------------
# sessionize / scd2 / ewma
# ---------------------------------------------------------------------------

def test_sessionize_splits_on_gap(spark):
    rows = [
        (1, "view", _t(0)), (1, "click", _t(10)),   # session 1
        (1, "view", _t(100)),                        # > 30 min gap
        (2, "view", _t(0)),
    ]
    out = {(r["user_id"], r["session_seq"]): r
           for r in analytics.sessionize(_ev(spark, rows),
                                         gap_seconds=1800).collect()}
    assert len(out) == 3
    assert out[(1, 1)]["n_events"] == 2
    assert out[(1, 1)]["duration_s"] == 600
    assert out[(1, 2)]["n_events"] == 1
    assert out[(2, 1)]["duration_s"] == 0


def test_sessionize_boundary_gap_continues(spark):
    # exactly gap-sized pause continues the session (strict >)
    rows = [(1, "a", _t(0)), (1, "b", _t(30))]
    out = analytics.sessionize(_ev(spark, rows), gap_seconds=1800).collect()
    assert len(out) == 1 and out[0]["n_events"] == 2


def test_scd2_intervals_and_collapse(spark):
    rows = [
        (1, "A", _t(0)), (1, "A", _t(5)),   # no-op change collapses
        (1, "B", _t(10)), (1, "A", _t(20)),  # back to A = new interval
        (2, "X", _t(0)),
    ]
    out = analytics.scd2(_ev(spark, rows), "user_id", "event_type")
    got = sorted(
        ((r["user_id"], r["event_type"], r["valid_from"], r["valid_to"],
          r["is_current"]) for r in out.collect()))
    assert got == [
        (1, "A", _t(0), _t(10), False),
        (1, "A", _t(20), None, True),
        (1, "B", _t(10), _t(20), False),
        (2, "X", _t(0), None, True),
    ]


def test_scd2_tie_on_ts_keeps_attr_sort_last(spark):
    rows = [(1, "A", _t(0)), (1, "B", _t(0))]  # same key+ts: B wins
    out = analytics.scd2(_ev(spark, rows), "user_id", "event_type").collect()
    assert len(out) == 1 and out[0]["event_type"] == "B"


def test_ewma_smooths_and_normalizes_leading_rows(spark):
    df = spark.createDataFrame(
        [(1, _t(i), float(v)) for i, v in enumerate([10, 10, 10, 40])],
        "user_id long, ts timestamp, value double")
    out = analytics.ewma(df, "value", alpha=0.5, horizon=4,
                         key_col="user_id", ts_col="ts")
    got = [r["ewma"] for r in out.orderBy("ts").collect()]
    assert got[0] == 10.0           # single term, fully normalized
    assert got[1] == 10.0 and got[2] == 10.0
    # last: (40*.5 + 10*.25 + 10*.125 + 10*.0625) / .9375 = 26.0
    assert got[3] == 26.0


# ---------------------------------------------------------------------------
# PSI distribution drift
# ---------------------------------------------------------------------------

def test_psi_identical_distributions_near_zero(spark):
    from db_spark.analytics import psi_drift
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select((F.col("id") % 100).cast("double")
                                     .alias("v"))
    row = psi_drift(df, df, F.col("v"), lo=0.0, hi=100.0,
                    buckets=10).collect()[0]
    assert row["psi"] == 0.0
    assert row["n_ref"] == row["n_cur"] == 1000
    assert row["n_buckets"] == 10


def test_psi_detects_shift(spark):
    from db_spark.analytics import psi_drift
    from pyspark.sql import functions as F

    ref = spark.range(0, 1000).select((F.col("id") % 50).cast("double")
                                      .alias("v"))
    cur = spark.range(0, 1000).select((50 + F.col("id") % 50)
                                      .cast("double").alias("v"))
    row = psi_drift(ref, cur, F.col("v"), lo=0.0, hi=100.0,
                    buckets=10).collect()[0]
    assert row["psi"] > 0.25  # fully disjoint halves: strong shift


def test_psi_empty_buckets_and_clamp_are_finite(spark):
    from db_spark.analytics import psi_drift
    from pyspark.sql import functions as F

    # values far outside the declared range clamp into edge buckets;
    # most buckets empty on both sides — Laplace smoothing keeps every
    # term finite
    ref = spark.createDataFrame([(v,) for v in [-5.0, 0.5, 999.0]], "v double")
    cur = spark.createDataFrame([(v,) for v in [0.5, 1.5]], "v double")
    row = psi_drift(ref, cur, F.col("v"), lo=0.0, hi=10.0,
                    buckets=10).collect()[0]
    assert row["psi"] is not None and abs(row["psi"]) < 100
    assert row["n_ref"] == 3 and row["n_cur"] == 2


# ---------------------------------------------------------------------------
# Seasonal decomposition
# ---------------------------------------------------------------------------

def test_seasonal_decompose_recovers_planted_seasonality(spark):
    from db_spark.analytics import seasonal_decompose
    from pyspark.sql import functions as F

    # flat level 100 + deterministic phase bump (+10 at phase 0) over
    # 8 full periods of 4
    rows = [("a", p, 100.0 + (10.0 if p % 4 == 0 else 0.0))
            for p in range(32)]
    df = spark.createDataFrame(rows, "k string, pos long, v double")
    out = seasonal_decompose(df, ["k"], "pos", "v", period=4,
                             trend_window=1).collect()
    # trend_window=1: trend == value, detrended == 0, seasonal == 0
    assert all(r["trend"] == r["value"] and r["seasonal"] == 0.0
               and r["residual"] == 0.0 for r in out)

    out5 = {(r["position"]): r for r in seasonal_decompose(
        df, ["k"], "pos", "v", period=4, trend_window=5).collect()}
    # interior phase-0 rows: seasonal component positive, larger than
    # other phases' (the bump lands in the seasonal term, not residual)
    s0 = [r["seasonal"] for p, r in out5.items() if r["phase"] == 0]
    s_other = [r["seasonal"] for p, r in out5.items() if r["phase"] != 0]
    assert min(s0) > max(s_other)
    # decomposition identity holds exactly at output precision
    for r in out5.values():
        assert abs(r["value"] - (r["trend"] + r["seasonal"]
                                 + r["residual"])) < 2e-6


def test_seasonal_decompose_partition_invariant(spark):
    from db_spark.analytics import seasonal_decompose

    rows = [("g" + str(i % 2), i // 2, float((i * 17) % 31))
            for i in range(120)]
    df = spark.createDataFrame(rows, "k string, pos long, v double")
    a = seasonal_decompose(df.repartition(1), ["k"], "pos", "v",
                           period=6).collect()
    b = seasonal_decompose(df.repartition(16), ["k"], "pos", "v",
                           period=6).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_seasonal_anomalies_flags_planted_spike(spark):
    from db_spark.analytics import seasonal_anomalies

    # repeating daily pattern over 10 periods of 6 + one planted spike
    rows = []
    for p in range(60):
        v = 100.0 + 5.0 * (p % 6)
        if p == 33:
            v += 400.0  # the anomaly
        rows.append(("a", p, v))
    df = spark.createDataFrame(rows, "k string, pos long, v double")
    out = seasonal_anomalies(df, ["k"], "pos", "v", period=6,
                             trend_window=1, threshold=3.0).collect()
    # trend_window=1 makes trend == value, so residuals are all zero
    # and nothing flags (the spike is absorbed into its own trend)
    assert out == []

    out5 = seasonal_anomalies(df, ["k"], "pos", "v", period=6,
                              trend_window=7, threshold=3.0).collect()
    flagged = {r["position"] for r in out5}
    assert 33 in flagged
    assert all(abs(r["z"]) >= 3.0 for r in out5)
    # the spike's own neighbors may co-flag (it pollutes their trend
    # window) but the flag set stays local to the spike
    assert flagged <= set(range(30, 37))


# ---------------------------------------------------------------------------
# Winsorization
# ---------------------------------------------------------------------------

def test_winsorize_clips_into_band_and_flags(spark):
    from db_spark.analytics import winsorize
    from pyspark.sql import functions as F

    rows = [("a", float(v)) for v in range(1, 100)] + \
        [("a", -1000.0), ("a", 1000.0), ("b", 5.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", ["g"], lo=0.05, hi=0.95).collect()
    a = [r for r in out if r["g"] == "a"]
    assert len(a) == 101  # rows kept, not dropped
    assert sum(r["_clipped_lo"] for r in a) >= 1  # -1000 clipped up
    assert sum(r["_clipped_hi"] for r in a) >= 1  # +1000 clipped down
    los = [r["v_w"] for r in a if r["v"] == -1000.0]
    his = [r["v_w"] for r in a if r["v"] == 1000.0]
    band_lo, band_hi = los[0], his[0]
    assert band_lo > -1000 and band_hi < 1000
    assert all(band_lo <= r["v_w"] <= band_hi for r in a)
    # interior values untouched
    assert all(r["v_w"] == r["v"] for r in a
               if band_lo < r["v"] < band_hi)
    # group b computes its own band: the interpolated [p05, p95] of a
    # 2-row group sits strictly inside [5, 6], so BOTH rows clip
    # inward — the honest definition on tiny groups
    b = {r["v"]: r for r in out if r["g"] == "b"}
    assert b[5.0]["_clipped_lo"] == 1 and b[6.0]["_clipped_hi"] == 1
    assert 5.0 < b[5.0]["v_w"] < b[6.0]["v_w"] < 6.0


def test_time_weighted_avg_weights_by_holding_time(spark):
    import datetime as dt

    from db_spark.analytics import time_weighted_avg

    base = dt.datetime(2024, 1, 1)
    # value 10 held 90s, value 100 held 10s, final sample contributes 0
    rows = [("a", base, 10.0),
            ("a", base + dt.timedelta(seconds=90), 100.0),
            ("a", base + dt.timedelta(seconds=100), 999.0),
            ("b", base, 5.0)]  # single sample: no holding period
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r["k"]: r for r in time_weighted_avg(
        df, ["k"], "ts", "v").collect()}
    a = out["a"]
    assert a["total_seconds"] == 100 and a["n_samples"] == 2
    assert a["twap"] == (10.0 * 90 + 100.0 * 10) / 100  # == 19.0
    assert "b" not in out  # unknowable holding period -> no row


def test_time_weighted_avg_tie_deterministic(spark):
    import datetime as dt

    from db_spark.analytics import time_weighted_avg

    base = dt.datetime(2024, 1, 1)
    rows = [("a", base, 2.0), ("a", base, 8.0),
            ("a", base + dt.timedelta(seconds=10), 4.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    outs = set()
    for n in (1, 8):
        r = time_weighted_avg(df.repartition(n), ["k"], "ts", "v") \
            .collect()[0]
        outs.add((r["n_samples"], r["total_seconds"], r["twap"]))
    # value-ascending tiebreak: 2.0 holds 0 s, 8.0 holds the 10 s
    assert outs == {(2, 10, 8.0)}


def _basket_rows(spark):
    # basket 1 repeats item 2, basket 2 holds one item, basket 3 none
    # (its only row is a NULL item), basket 4 is unsorted
    rows = [(1, 1), (1, 2), (1, 2), (1, 3), (2, 5), (3, None),
            (4, 3), (4, 1), (4, 2)]
    return spark.createDataFrame(rows, "basket long, item long")


def _pairs_via_array(baskets, collect):
    arr = baskets.groupBy("basket").agg(collect("item").alias("_is"))
    return sorted(
        tuple(r) for r in
        arr.select("basket", F.explode(analytics.item_pairs("_is")).alias("p"))
        .select("basket", "p.a", "p.b").collect())


def _pairs_via_join(baskets):
    a = baskets.select("basket", F.col("item").alias("a"))
    b = baskets.select(F.col("basket").alias("_bb"), F.col("item").alias("b"))
    return sorted(
        tuple(r) for r in
        a.join(b, (F.col("basket") == F.col("_bb")) & (F.col("a") < F.col("b")))
        .select("basket", "a", "b").collect())


def test_item_pairs_list_matches_basket_self_join_multiset(spark):
    rows = _basket_rows(spark)
    got = _pairs_via_array(rows, F.collect_list)
    assert got == _pairs_via_join(rows)
    # the repeated item pairs once per occurrence
    assert got.count((1, 1, 2)) == 2 and got.count((1, 2, 3)) == 2
    assert not [p for p in got if p[0] in (2, 3)]


def test_item_pairs_set_matches_distinct_self_join(spark):
    rows = _basket_rows(spark)
    got = _pairs_via_array(rows, F.collect_set)
    assert got == _pairs_via_join(rows.distinct())
    assert got.count((1, 1, 2)) == 1


def test_association_rules_metrics(spark):
    from db_spark.analytics import association_rules

    # 4 baskets: {a,b} x3, {a,c} — b->a confidence 1.0, a->b 0.75
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b"),
            (4, "a"), (4, "c"), (4, "a")]  # dup (4,a) must not double-count
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {(r["antecedent"], r["consequent"]): r
           for r in association_rules(df, "basket", "item",
                                      min_pair_count=2, top_k=10).collect()}
    ab, ba = out[("a", "b")], out[("b", "a")]
    assert ab["pair_count"] == 3 and ab["antecedent_count"] == 4
    assert ab["confidence"] == 0.75 and ba["confidence"] == 1.0
    assert ab["support"] == 0.75                     # 3 of 4 baskets
    # lift symmetric: p(ab)/(p(a)p(b)) = (3/4)/((4/4)*(3/4)) = 1.0
    assert ab["lift"] == 1.0 and ba["lift"] == 1.0
    # min_pair_count prunes the {a,c} singleton pair
    assert ("a", "c") not in out and ("c", "a") not in out


# ---------------------------------------------------------------------------
# Holt linear-trend forecast
# ---------------------------------------------------------------------------

def test_holt_tracks_linear_series_exactly(spark):
    from db_spark.analytics import holt_forecast

    rows = [("k", t, float(t + 1)) for t in range(4)]  # y = 1,2,3,4
    df = spark.createDataFrame(rows, "k string, t long, v double")
    r = holt_forecast(df, "k", "t", "v", horizon=3).collect()[0]
    assert (r["n_points"], r["level"], r["trend"]) == (4, 4.0, 1.0)
    assert r["forecast"] == 7.0


def test_holt_two_point_series_extrapolates_slope(spark):
    from db_spark.analytics import holt_forecast

    df = spark.createDataFrame(
        [("k", 0, 5.0), ("k", 1, 7.0), ("solo", 0, 1.0)],
        "k string, t long, v double")
    got = {r["k"]: r for r in
           holt_forecast(df, "k", "t", "v", horizon=1).collect()}
    assert set(got) == {"k"}  # 1-point key dropped: no trend defined
    assert got["k"]["level"] == 7.0 and got["k"]["trend"] == 2.0
    assert got["k"]["forecast"] == 9.0


def test_holt_step_series_dyadic_exact(spark):
    from db_spark.analytics import holt_forecast

    # y = 0,0,4: init l=0,t=0; fold y=4 -> l=2, t=1 (all dyadic)
    df = spark.createDataFrame(
        [("k", 0, 0.0), ("k", 1, 0.0), ("k", 2, 4.0)],
        "k string, t long, v double")
    r = holt_forecast(df, "k", "t", "v", horizon=2).collect()[0]
    assert (r["level"], r["trend"], r["forecast"]) == (2.0, 1.0, 4.0)


def test_holt_order_insensitive_to_input_partitioning(spark):
    from db_spark.analytics import holt_forecast

    rows = [("k", t, float((t * 7) % 13)) for t in range(20)]
    a = holt_forecast(
        spark.createDataFrame(rows, "k string, t long, v double")
        .repartition(1), "k", "t", "v")
    b = holt_forecast(
        spark.createDataFrame(rows[::-1], "k string, t long, v double")
        .repartition(16), "k", "t", "v")
    assert a.collect() == b.collect()


# ---------------------------------------------------------------------------
# Grouped OLS linear regression
# ---------------------------------------------------------------------------

def test_linreg_exact_line(spark):
    from db_spark.analytics import linreg

    rows = [("g", float(x), 2.0 * x + 3.0) for x in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = linreg(df, ["g"], "x", "y").collect()[0]
    assert (r["n"], r["slope"], r["intercept"], r["r2"]) == (4, 2.0, 3.0, 1.0)


def test_linreg_zero_slope_and_r2(spark):
    from db_spark.analytics import linreg

    df = spark.createDataFrame(
        [("g", 0.0, 0.0), ("g", 1.0, 1.0), ("g", 2.0, 0.0)],
        "g string, x double, y double")
    r = linreg(df, ["g"], "x", "y").collect()[0]
    assert r["slope"] == 0.0 and r["r2"] == 0.0
    assert r["intercept"] == pytest.approx(1 / 3, abs=1e-6)


def test_linreg_constant_x_yields_nulls(spark):
    from db_spark.analytics import linreg

    df = spark.createDataFrame(
        [("g", 5.0, 1.0), ("g", 5.0, 2.0)], "g string, x double, y double")
    r = linreg(df, ["g"], "x", "y").collect()[0]
    assert r["slope"] is None and r["intercept"] is None and r["r2"] is None


def test_linreg_partitioning_invariant(spark):
    from db_spark.analytics import linreg

    rows = [("g%d" % (i % 3), float(i), float((i * i) % 17)) for i in range(60)]
    a = linreg(spark.createDataFrame(rows, "g string, x double, y double")
               .repartition(1), ["g"], "x", "y")
    b = linreg(spark.createDataFrame(rows[::-1], "g string, x double, y double")
               .repartition(16), ["g"], "x", "y")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# CUSUM changepoints
# ---------------------------------------------------------------------------

def test_cusum_level_shift_alarms(spark):
    from db_spark.analytics import cusum_changepoints

    rows = ([("k", t, 10.0) for t in range(3)]
            + [("k", t, 20.0) for t in range(3, 6)])
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {r["t"]: r for r in cusum_changepoints(
        df, "k", "t", "v", threshold=12.0).collect()}
    # target = mean 15; s+ climbs after the shift, s- before it
    assert set(got) == {2, 5}
    assert got[5]["s_pos"] == 15.0 and got[5]["alarm_pos"]
    assert got[2]["s_neg"] == 15.0 and got[2]["alarm_neg"]


def test_cusum_flat_series_never_alarms(spark):
    from db_spark.analytics import cusum_changepoints

    df = spark.createDataFrame([("k", t, 7.0) for t in range(10)],
                               "k string, t long, v double")
    assert cusum_changepoints(df, "k", "t", "v", threshold=0.5).count() == 0


def test_cusum_statistic_path_and_zero_reset(spark):
    from db_spark.analytics import cusum_changepoints

    rows = ([("k", t, 10.0) for t in range(3)]
            + [("k", t, 20.0) for t in range(3, 6)])
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = cusum_changepoints(df, "k", "t", "v", threshold=12.0,
                             alarms_only=False).orderBy("t").collect()
    assert [r["s_pos"] for r in out] == [0.0, 0.0, 0.0, 5.0, 10.0, 15.0]
    assert [r["s_neg"] for r in out] == [5.0, 10.0, 15.0, 10.0, 5.0, 0.0]


# ---------------------------------------------------------------------------
# Single-touch attribution
# ---------------------------------------------------------------------------

def _attr_events(spark):
    rows = [
        (1, 10, 1, "view", 0.0), (1, 20, 2, "click", 0.0),
        (1, 30, 3, "purchase", 9.0), (1, 40, 4, "purchase", 5.0),
        (2, 10, 5, "purchase", 3.0),              # no prior touch
        (3, 10, 6, "purchase", 2.0), (3, 20, 7, "click", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_id long, "
              "event_type string, value double")
    return df.withColumn("ts", F.timestamp_seconds(F.col("tsec")))


def test_attribution_last_touch(spark):
    from db_spark.analytics import attribution

    got = {r["event_id"]: r for r in attribution(
        _attr_events(spark), ["view", "click"], "purchase").collect()}
    assert got[3]["touch_type"] == "click" and got[3]["touch_id"] == 2
    assert got[4]["touch_type"] == "click"  # still the last touch
    assert got[5]["touch_type"] is None     # unattributed, kept
    assert got[6]["touch_type"] is None     # later touch gets no credit


def test_attribution_first_touch(spark):
    from db_spark.analytics import attribution

    got = {r["event_id"]: r for r in attribution(
        _attr_events(spark), ["view", "click"], "purchase",
        model="first").collect()}
    assert got[3]["touch_type"] == "view" and got[3]["touch_id"] == 1
    assert got[4]["touch_type"] == "view"


def test_attribution_timestamp_tie_breaks_by_id(spark):
    from db_spark.analytics import attribution

    rows = [(1, 10, 2, "click", 0.0), (1, 10, 1, "view", 0.0),
            (1, 20, 3, "purchase", 1.0)]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_id long, "
              "event_type string, value double"
    ).withColumn("ts", F.timestamp_seconds(F.col("tsec")))
    r = attribution(df, ["view", "click"], "purchase").collect()[0]
    assert r["touch_type"] == "click" and r["touch_id"] == 2


# ---------------------------------------------------------------------------
# Markov transition matrix
# ---------------------------------------------------------------------------

def test_transition_matrix_counts_and_rows_normalize(spark):
    from db_spark.analytics import transition_matrix

    rows = [(1, 10, 1, "a"), (1, 20, 2, "b"), (1, 30, 3, "a"),
            (1, 40, 4, "c"), (2, 10, 5, "b"), (2, 20, 6, "a")]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_id long, event_type string"
    ).withColumn("ts", F.timestamp_seconds(F.col("tsec")))
    got = {(r["from_type"], r["to_type"]): r
           for r in transition_matrix(df).collect()}
    # a->b, b->a (x2 across users), a->c
    assert got[("a", "b")]["n_transitions"] == 1
    assert got[("b", "a")]["n_transitions"] == 2
    assert got[("a", "c")]["n_transitions"] == 1
    assert got[("a", "b")]["p"] == 0.5 and got[("a", "c")]["p"] == 0.5
    assert got[("b", "a")]["p"] == 1.0
    # no cross-user pair (1's last event never precedes 2's first)
    assert ("c", "b") not in got


def test_transition_matrix_tie_breaks_by_id(spark):
    from db_spark.analytics import transition_matrix

    rows = [(1, 10, 2, "b"), (1, 10, 1, "a"), (1, 20, 3, "c")]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_id long, event_type string"
    ).withColumn("ts", F.timestamp_seconds(F.col("tsec")))
    got = {(r["from_type"], r["to_type"])
           for r in transition_matrix(df).collect()}
    assert got == {("a", "b"), ("b", "c")}


# ---------------------------------------------------------------------------
# Two-proportion A/B test
# ---------------------------------------------------------------------------

def test_ab_test_counts_and_z_statistic(spark):
    import math

    from db_spark.analytics import ab_test

    rows = ([(u, "view") for u in range(1, 21)]
            + [(u, "purchase") for u in range(1, 21) if u % 2 == 0])
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ab_test(df, F.col("event_type") == "purchase").collect()[0]
    assert r["n_a"] + r["n_b"] == 20
    assert r["conv_a"] + r["conv_b"] == 10
    pa, pb = r["conv_a"] / r["n_a"], r["conv_b"] / r["n_b"]
    pool = (r["conv_a"] + r["conv_b"]) / 20
    z = (pa - pb) / math.sqrt(
        pool * (1 - pool) * (1 / r["n_a"] + 1 / r["n_b"]))
    assert r["z"] == round(z, 6)
    assert r["significant"] == (abs(round(z, 6)) > 1.96)


def test_ab_test_assignment_is_stable_across_partitionings(spark):
    from db_spark.analytics import ab_test

    rows = [(u, t) for u in range(1, 40)
            for t in (["view"] if u % 3 else ["view", "purchase"])]
    a = ab_test(spark.createDataFrame(rows, "user_id long, event_type string")
                .repartition(1), F.col("event_type") == "purchase")
    b = ab_test(spark.createDataFrame(rows[::-1], "user_id long, event_type string")
                .repartition(16), F.col("event_type") == "purchase")
    assert a.collect() == b.collect()


def test_ab_test_empty_arm_yields_null_z(spark):
    from db_spark.analytics import ab_test

    df = spark.createDataFrame([(1, "view")], "user_id long, event_type string")
    r = ab_test(df, F.col("event_type") == "purchase").collect()[0]
    assert (r["n_a"] is None) != (r["n_b"] is None)  # one arm only
    assert r["z"] is None


def test_ab_test_all_converters_pool_yields_null_z(spark):
    from db_spark.analytics import ab_test

    rows = [(u, "purchase") for u in range(1, 30)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ab_test(df, F.col("event_type") == "purchase").collect()[0]
    assert r["rate_a"] == 1.0 and r["rate_b"] == 1.0
    assert r["z"] is None  # zero-variance pool: undefined, not a crash


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve
# ---------------------------------------------------------------------------

def test_survival_curve_product_limit(spark):
    from db_spark.analytics import survival_curve

    df = spark.createDataFrame(
        [(1, 1), (2, 0), (2, 1), (3, 1)], "dur long, ev long")
    got = {r["duration"]: r for r in
           survival_curve(df, "dur", "ev").collect()}
    assert got[1]["n_risk"] == 4 and got[1]["survival"] == 0.75
    assert got[2]["n_risk"] == 3 and got[2]["survival"] == 0.5
    assert got[3]["n_risk"] == 1 and got[3]["survival"] == 0.0


def test_survival_curve_censoring_extends_risk_set_only(spark):
    from db_spark.analytics import survival_curve

    df = spark.createDataFrame(
        [(1, 1), (2, 0), (2, 1), (3, 1), (4, 0)], "dur long, ev long")
    got = {r["duration"]: r for r in
           survival_curve(df, "dur", "ev").collect()}
    assert 4 not in got               # censored-only time: no curve step
    assert got[1]["n_risk"] == 5 and got[1]["survival"] == 0.8
    assert got[2]["n_risk"] == 4 and got[2]["survival"] == 0.6
    assert got[3]["n_risk"] == 2 and got[3]["survival"] == 0.3


# ---------------------------------------------------------------------------
# Funnel step latency
# ---------------------------------------------------------------------------

def test_funnel_latency_rank_exact_percentiles(spark):
    from db_spark.analytics import funnel_latency

    rows = [(1, 10, "a"), (1, 25, "b"), (1, 30, "c"),
            (2, 10, "a"), (2, 20, "b"),
            (3, 10, "a"), (3, 40, "b"),
            (4, 10, "a")]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_type string"
    ).withColumn("ts", F.timestamp_seconds(F.col("tsec")))
    got = {r["step"]: r for r in
           funnel_latency(df, ["a", "b", "c"]).collect()}
    # a->b gaps: 15, 10, 30 -> median 15, p90 = rank ceil(27/10)=3 -> 30
    assert got[1]["from_type"] == "a" and got[1]["to_type"] == "b"
    assert got[1]["n_users"] == 3
    assert got[1]["median_gap_s"] == 15.0 and got[1]["p90_gap_s"] == 30
    # b->c: only u1 completes; single-element percentiles are the value
    assert got[2]["n_users"] == 1
    assert got[2]["median_gap_s"] == 5.0 and got[2]["p90_gap_s"] == 5


def test_funnel_latency_even_count_median_is_middle_two_average(spark):
    from db_spark.analytics import funnel_latency

    rows = [(u, 10, "a") for u in (1, 2, 3, 4)] + [
        (1, 12, "b"), (2, 14, "b"), (3, 20, "b"), (4, 30, "b")]
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_type string"
    ).withColumn("ts", F.timestamp_seconds(F.col("tsec")))
    r = funnel_latency(df, ["a", "b"]).collect()[0]
    # gaps 2, 4, 10, 20 -> median (4+10)/2 = 7.0, p90 rank ceil(36/10)=4
    assert r["median_gap_s"] == 7.0 and r["p90_gap_s"] == 20


# ---------------------------------------------------------------------------
# Holt backtest
# ---------------------------------------------------------------------------

def test_holt_backtest_perfect_on_linear_series(spark):
    from db_spark.analytics import holt_backtest

    rows = [("k", t, float(2 * t + 1)) for t in range(8)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    r = holt_backtest(df, "k", "t", "v", holdout=3).collect()[0]
    # train = first 5 points of an exact line: level=y[4]=9, trend=2;
    # forecasts are exact -> mae_holt 0, naive errs 2,4,6 -> mae 4
    assert (r["level"], r["trend"]) == (9.0, 2.0)
    assert r["mae_holt"] == 0.0 and r["mae_naive"] == 4.0
    assert r["skill"] == 0.0


def test_holt_backtest_drops_short_series_and_flat_naive(spark):
    from db_spark.analytics import holt_backtest

    rows = ([("flat", t, 5.0) for t in range(6)]
            + [("short", t, 1.0) for t in range(4)])
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {r["k"]: r for r in
           holt_backtest(df, "k", "t", "v", holdout=3).collect()}
    assert set(got) == {"flat"}  # short has < holdout+2 points
    # flat series: holt and naive both perfect; skill undefined (0/0)
    assert got["flat"]["mae_holt"] == 0.0
    assert got["flat"]["mae_naive"] == 0.0
    assert got["flat"]["skill"] is None


# ---------------------------------------------------------------------------
# Rolling correlation
# ---------------------------------------------------------------------------

def test_rolling_corr_perfect_and_anti_correlation(spark):
    from db_spark.analytics import rolling_corr

    rows = [(t, float(t), float(2 * t + 1), float(10 - t))
            for t in range(6)]
    df = spark.createDataFrame(rows, "t long, x double, y double, z double")
    pos = {r["t"]: r for r in
           rolling_corr(df, "t", "x", "y", window_rows=3).collect()}
    neg = {r["t"]: r for r in
           rolling_corr(df, "t", "x", "z", window_rows=3).collect()}
    assert pos[0]["corr"] is None          # single-point frame: no variance
    assert pos[2]["corr"] == 1.0 and pos[5]["corr"] == 1.0
    assert neg[2]["corr"] == -1.0
    assert pos[2]["n_window"] == 3 and pos[1]["n_window"] == 2


def test_rolling_corr_constant_side_yields_null(spark):
    from db_spark.analytics import rolling_corr

    rows = [(t, float(t), 7.0) for t in range(4)]
    df = spark.createDataFrame(rows, "t long, x double, y double")
    out = rolling_corr(df, "t", "x", "y", window_rows=4).collect()
    assert all(r["corr"] is None for r in out)


def test_wilson_bounds_known_values_and_range(spark):
    from db_spark.analytics import wilson_bounds

    df = spark.createDataFrame([(8, 10), (0, 5), (5, 5)],
                               "conv long, n long")
    lo, hi = wilson_bounds(F.col("conv"), F.col("n"))
    out = {(r["conv"], r["n"]): (r["lo"], r["hi"]) for r in
           df.select("conv", "n", lo.alias("lo"), hi.alias("hi")).collect()}
    # reference: 8/10 Wilson 95% = (0.490157, 0.943319) (recomputed
    # from the same closed form in plain Python)
    assert out[(8, 10)] == (0.490157, 0.943319)
    # boundary proportions stay inside [0, 1] (normal approx would not)
    assert out[(0, 5)][0] == 0.0 and out[(0, 5)][1] < 1.0
    assert out[(5, 5)][0] > 0.0 and out[(5, 5)][1] == 1.0
