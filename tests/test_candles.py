"""OHLC candle tests: hand cases (cascade ≡ rebuild is
``test_rollup.py::test_cascade_equals_rebuild[candles]``)."""

from __future__ import annotations

from datetime import datetime

from tsengine import rollup


def _ts(h, m=0):
    return datetime(2024, 3, 1, h, m)


def test_ohlc_hand_case(spark):
    rows = [
        ("a", "m", _ts(9, 0), 1, 10.0),   # open
        ("a", "m", _ts(9, 20), 2, 50.0),  # high
        ("a", "m", _ts(9, 40), 3, 5.0),   # low
        ("a", "m", _ts(9, 59), 4, 20.0),  # close
        ("a", "m", _ts(10, 5), 5, 99.0),  # next bucket
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, event_id long, value double"
    )
    got = {
        r["bucket_ts"]: (r["open"], r["high"], r["low"], r["close"], r["cnt"])
        for r in rollup.rollup(df, "1h", rollup.candles()).collect()
    }
    assert got[_ts(9)] == (10.0, 50.0, 5.0, 20.0, 4)
    assert got[_ts(10)] == (99.0, 99.0, 99.0, 99.0, 1)


def test_ohlc_tie_on_timestamp_breaks_by_seq(spark):
    # two events at the SAME timestamp: open/close resolve by event_id
    rows = [
        ("a", "m", _ts(9, 0), 2, 7.0),
        ("a", "m", _ts(9, 0), 1, 3.0),   # lower seq -> the open
        ("a", "m", _ts(9, 30), 9, 5.0),
        ("a", "m", _ts(9, 30), 10, 8.0),  # higher seq -> the close
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, event_id long, value double"
    )
    r = rollup.rollup(df, "1h", rollup.candles()).collect()[0]
    assert (r["open"], r["close"]) == (3.0, 8.0)
