"""Unit tests for the round-4 additions: M4 downsampling, SAX words,
seasonal-naive backtest, and metric-mix entropy — hand-computed oracles
on tiny fixtures (the entry-level SQL parity is covered separately by
tools/compare_oracle.py)."""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np

from tsengine import anomaly, indicators, rolling, temporal


def _t(h, m=0, s=0):
    return datetime(2024, 3, 1, h, m, s)


# ---------------------------------------------------------------- M4 ------

def test_m4_keeps_four_extrema(spark):
    rows = [
        # one hour bucket, values chosen so first/last/min/max all differ
        ("a", "m", _t(10, 0), 5.0, 1),
        ("a", "m", _t(10, 10), 1.0, 2),   # min
        ("a", "m", _t(10, 20), 9.0, 3),   # max
        ("a", "m", _t(10, 50), 4.0, 4),   # last
        # second bucket: single point -> all four collapse to it
        ("a", "m", _t(11, 5), 7.0, 5),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, value double, "
        "event_id long"
    )
    got = {
        (r["bucket_ts"].hour): r
        for r in rolling.m4_downsample(df, bucket="hour").collect()
    }
    b10 = got[10]
    assert (b10["cnt"], b10["v_first"], b10["v_last"], b10["v_min"],
            b10["v_max"]) == (4, 5.0, 4.0, 1.0, 9.0)
    b11 = got[11]
    assert (b11["cnt"], b11["v_first"], b11["v_last"], b11["v_min"],
            b11["v_max"]) == (1, 7.0, 7.0, 7.0, 7.0)


def test_m4_tie_semantics_pinned(spark):
    # equal min value at two timestamps: min keeps the EARLIEST, max the
    # LATEST attaining row (documented struct-ordering contract)
    rows = [
        ("a", "m", _t(10, 0), 3.0, 1),
        ("a", "m", _t(10, 10), 1.0, 2),
        ("a", "m", _t(10, 20), 1.0, 3),
        ("a", "m", _t(10, 30), 3.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, value double, "
        "event_id long"
    )
    r = rolling.m4_downsample(df, bucket="hour").collect()[0]
    assert (r["v_first"], r["v_last"], r["v_min"], r["v_max"]) == (
        3.0, 3.0, 1.0, 3.0)
    assert r["cnt"] == 4
    # the pinned tie contract, observable through the attaining
    # timestamps: min=1.0 at 10:10 AND 10:20 -> EARLIEST wins;
    # max=3.0 at 10:00 AND 10:30 -> LATEST wins
    us = 1_000_000
    assert r["t_min_us"] % 3600_000_000 == 10 * 60 * us
    assert r["t_max_us"] % 3600_000_000 == 30 * 60 * us
    assert r["t_first_us"] % 3600_000_000 == 0
    assert r["t_last_us"] % 3600_000_000 == 30 * 60 * us


# --------------------------------------------------------------- SAX ------

def test_sax_word_matches_numpy_reference(spark):
    # 16 points, w=8 -> 2 points per segment; compare against a direct
    # numpy SAX computation with the same breakpoints
    vals = [1.0, 2.0, 8.0, 9.0, 5.0, 5.0, 0.0, 1.0,
            7.0, 8.0, 3.0, 2.0, 9.0, 9.5, 4.0, 4.5]
    rows = [("a", "m", _t(10, i), v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, value double, "
        "event_id long"
    )
    got = anomaly.sax_words(df, w=8, alpha=4).collect()[0]

    y = np.array(vals)
    mu, sigma = y.mean(), y.std()  # population, matching the engine
    segs = (np.arange(16) * 8) // 16
    word = ""
    for s in range(8):
        z = round((y[segs == s].mean() - mu) / sigma, 6)
        bps = anomaly.SAX_BREAKPOINTS[4]
        word += "abcd"[np.searchsorted(bps, z, side="right")]
    assert got["sax"] == word
    assert got["n"] == 16 and got["n_segs"] == 8


def test_sax_flat_series_maps_to_middle_letter(spark):
    rows = [("a", "m", _t(10, i), 3.7, i) for i in range(8)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, value double, "
        "event_id long"
    )
    got = anomaly.sax_words(df, w=4, alpha=4).collect()[0]
    # z=0 everywhere -> first letter at-or-above the 0 breakpoint = 'c'
    assert got["sax"] == "cccc"


def test_sax_short_series_fewer_segments(spark):
    rows = [("a", "m", _t(10, i), float(i), i) for i in range(3)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, value double, "
        "event_id long"
    )
    got = anomaly.sax_words(df, w=8, alpha=4).collect()[0]
    assert got["n_segs"] == 3 and len(got["sax"]) == 3


# ---------------------------------------------------- seasonal backtest ---

def test_seasonal_backtest_hand_computed(spark):
    # hourly means for two days; day-2 buckets score against day-1
    day1 = [10.0, 20.0, 0.0]
    day2 = [12.0, 26.0, 0.0]
    rows = []
    for h, v in enumerate(day1):
        rows.append(("a", "m", datetime(2024, 3, 1, h), v))
    for h, v in enumerate(day2):
        rows.append(("a", "m", datetime(2024, 3, 2, h), v))
    hourly = spark.createDataFrame(
        rows, "conv_id string, metric string, bucket_ts timestamp, "
        "mean_v double"
    )
    got = temporal.seasonal_backtest(hourly, season_hours=24).collect()[0]
    errs = [f - a for f, a in zip(day1, day2)]
    assert got["n_scored"] == 3
    assert got["mae"] == round(np.mean(np.abs(errs)), 6)
    assert got["rmse"] == round(math.sqrt(np.mean(np.square(errs))), 6)
    # smape: both-zero pair contributes 0 by the pinned convention
    smape = np.mean([
        2 * abs(f - a) / (abs(f) + abs(a)) if abs(f) + abs(a) > 0 else 0.0
        for f, a in zip(day1, day2)
    ])
    assert got["smape"] == round(smape, 6)


def test_seasonal_backtest_no_predecessor_unscored(spark):
    rows = [("a", "m", datetime(2024, 3, 1, h), 1.0) for h in range(3)]
    hourly = spark.createDataFrame(
        rows, "conv_id string, metric string, bucket_ts timestamp, "
        "mean_v double"
    )
    assert temporal.seasonal_backtest(hourly, season_hours=24).count() == 0


# ----------------------------------------------------------- entropy ------

def test_mix_entropy_hand_computed(spark):
    rows = (
        [("c1", "tool")] * 2 + [("c1", "msg")] * 2          # uniform k=2
        + [("c2", "msg")] * 4                                # pure k=1
        + [("c3", "a"), ("c3", "b"), ("c3", "b"), ("c3", "b")]
    )
    df = spark.createDataFrame(rows, "conv_id string, metric string")
    got = {r["conv_id"]: r for r in indicators.mix_entropy(df).collect()}
    assert got["c1"]["entropy"] == round(math.log(2), 6)
    assert got["c1"]["entropy_norm"] == 1.0
    assert got["c2"]["entropy"] == 0.0 and got["c2"]["entropy_norm"] == 0.0
    h3 = -(0.25 * math.log(0.25) + 0.75 * math.log(0.75))
    assert got["c3"]["entropy"] == round(h3, 6)
    assert got["c3"]["entropy_norm"] == round(h3 / math.log(2), 6)
    assert got["c3"]["n_events"] == 4 and got["c3"]["n_cats"] == 2


# ---------------------------------------------------------- Brown ---------

def test_brown_matches_statsmodels_style_recursion(spark):
    vals = [3.0, 4.5, 5.0, 7.0, 8.5, 8.0, 10.0, 12.5]
    rows = [("a", _t(10, i), v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double, event_id long"
    )
    got = (temporal.brown_smooth(df, alpha=0.25, tiebreak="event_id")
           .orderBy("event_id").collect())
    a = 0.25
    s1 = s2 = vals[0]
    for i, x in enumerate(vals):
        if i > 0:
            s1 = a * x + (1 - a) * s1
            s2 = a * s1 + (1 - a) * s2
        r = got[i]
        assert abs(r["brown_level"] - (2 * s1 - s2)) < 1e-9
        assert abs(r["brown_trend"] - a / (1 - a) * (s1 - s2)) < 1e-9
        assert abs(r["brown_fcst"]
                   - (r["brown_level"] + r["brown_trend"])) < 1e-12


def test_brown_tracks_linear_trend_with_constant_slope(spark):
    # on a pure linear ramp the trend estimate converges to the true slope
    rows = [("a", _t(10, i), 2.0 * i, i) for i in range(60)]
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double, event_id long"
    )
    last = (temporal.brown_smooth(df, alpha=0.25, tiebreak="event_id")
            .orderBy("event_id").collect()[-1])
    assert abs(last["brown_trend"] - 2.0) < 1e-3
    # one-step forecast anticipates the next point
    assert abs(last["brown_fcst"] - (2.0 * 59 + 2.0)) < 0.05


# --------------------------------------------------------- Theil-Sen ------

def test_theil_sen_hand_computed_and_robust(spark):
    # y = 2x with one wild outlier at x=3: OLS would bend, the pair-slope
    # median stays at 2
    pts = [(0, 0.0), (1, 2.0), (2, 4.0), (3, 100.0), (4, 8.0)]
    rows = [("a", "m", datetime(2024, 3, 1), x, y) for x, y in pts]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, day timestamp, x long, y double"
    )
    got = anomaly.theil_sen(df).collect()[0]
    slopes = sorted(
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
    )
    n = len(slopes)
    med = (slopes[n // 2 - 1] + slopes[n // 2]) / 2 if n % 2 == 0 else slopes[n // 2]
    assert got["n_pairs"] == 10
    assert got["theil_slope"] == round(med, 6)
    assert got["theil_slope"] == 2.0  # the outlier does not move it


def test_theil_sen_single_point_dropped(spark):
    df = spark.createDataFrame(
        [("a", "m", datetime(2024, 3, 1), 0, 1.0)],
        "conv_id string, metric string, day timestamp, x long, y double",
    )
    assert anomaly.theil_sen(df).count() == 0


# ------------------------------------------------------ rank normalize ----

def test_rank_normalize_hand_computed(spark):
    from tsengine import features

    rows = [
        ("a", "m", 5.0, 1), ("a", "m", 1.0, 2), ("a", "m", 3.0, 3),
        ("a", "m", 3.0, 4),                      # tie -> event_id order
        ("b", "m", 7.0, 5),                      # single point -> cdf 0
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, value double, event_id long"
    )
    got = {r["event_id"]: r for r in features.rank_normalize(df).collect()}
    assert [got[e]["rank"] for e in (2, 3, 4, 1)] == [1, 2, 3, 4]
    assert got[2]["cdf"] == 0.0 and got[1]["cdf"] == 1.0
    assert got[3]["cdf"] == round(1 / 3, 6) and got[4]["cdf"] == round(2 / 3, 6)
    assert got[5]["rank"] == 1 and got[5]["cdf"] == 0.0


# ------------------------------------------------------------ Hampel ------

def test_hampel_repairs_local_spike(spark):
    # flat-ish series with one wild spike; +-2 window, k=3
    vals = [10.0, 10.1, 9.9, 500.0, 10.2, 9.8, 10.0]
    rows = [("a", "m", _t(10, i), v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, value double, "
        "event_id long"
    )
    got = {r["event_id"]: r for r in
           anomaly.hampel(df, half_window=2, k=3.0).collect()}
    # the spike is the only outlier and is repaired to its local median
    assert got[3]["is_outlier"] == 1
    win = sorted(vals[1:6])          # rows 1..5 around index 3
    assert got[3]["local_med"] == round(win[2], 6)
    assert got[3]["repaired"] == got[3]["local_med"]
    for i in (0, 1, 2, 4, 5, 6):
        assert got[i]["is_outlier"] == 0, i
        assert got[i]["repaired"] == round(vals[i], 6)


def test_hampel_edge_uses_truncated_frame(spark):
    vals = [1.0, 2.0, 3.0]
    rows = [("a", "m", _t(10, i), v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, value double, "
        "event_id long"
    )
    got = {r["event_id"]: r for r in
           anomaly.hampel(df, half_window=2, k=3.0).collect()}
    # first row's frame is [1,2,3] -> median 2; all inliers
    assert got[0]["local_med"] == 2.0
    assert sum(r["is_outlier"] for r in got.values()) == 0
